"""Toy-size smoke test of the benchmark (about 3 minutes, one Spark session
per run):

    python3 -m pytest perfbench/test_smoke.py -q -p no:cacheprovider

Checks that every metric prints by name with its unit, that the units agree
with BENCHMARK.json, that a deliberately wrong expected row is counted as a
failed operation, and that a checkout without the engine fails without
printing a result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END, PER_LAYER  # noqa: E402

WORKLOADS = ["backfill_mor", "live_cow_skewed", "read_mix_mor"]


def _run(workload: str, *extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
         "--seed", "3", "--seconds", "3", "--scale", "toy", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _printed(stdout: str) -> dict[str, tuple[float, str]]:
    """name -> (value, unit) from the human-readable table."""
    out = {}
    for line in stdout.splitlines():
        m = re.match(r"^  (\S+)\s+(-?[0-9.]+) (\S+)$", line)
        if m:
            out[m.group(1)] = (float(m.group(2)), m.group(3))
    return out


def _bench() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_units_agree_with_benchmark_json():
    bench = _bench()
    units = dict(END_TO_END + PER_LAYER)
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert units[m["name"]] == m["unit"], m["name"]
    assert [m["name"] for m in bench["end_to_end"]] == [n for n, _ in END_TO_END]
    assert [m["name"] for m in bench["per_layer"]] == [n for n, _ in PER_LAYER]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_metric(workload):
    p = _run(workload, "--trace", "1")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.splitlines()[-1])
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, p.stdout
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(PER_LAYER)
    printed = _printed(p.stdout)
    for name, unit in END_TO_END + PER_LAYER + [("error_rate", "ratio")]:
        assert printed[name][1] == unit, name
    assert printed["error_rate"][0] == 0.0
    assert res["metrics"]["trace.spans"]["value"] > 0


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_row_counts_in_error_rate(workload):
    p = _run(workload, "--trace", "0", "--corrupt-expected")
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.splitlines()[-1])
    assert not res["correct"] and res["failed"] >= 1
    assert {k: v["unit"] for k, v in res["metrics"].items()} == dict(END_TO_END)
    printed = _printed(p.stdout)["error_rate"][0]  # the table prints 4 decimals
    assert printed == pytest.approx(res["failed"] / res["attempted"], abs=1e-4) and printed > 0


def test_fails_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("out", "__pycache__"))
    p = _run("backfill_mor", "--trace", "0", cwd=str(tmp_path))
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
