"""Fast checks of the benchmark harness; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import probe  # noqa: E402
import run  # noqa: E402


def test_core_request_above_bound_cpus_is_refused():
    with pytest.raises(probe.CoresRefused, match="not measured"):
        probe.resolve_cores(5, bound=4)
    # taskset -c 0-7 on a 4-vCPU guest binds 4 CPUs: 8 slots are refused
    with pytest.raises(probe.CoresRefused):
        probe.resolve_cores(8, bound=4)


def test_core_request_within_bound_is_kept():
    assert probe.resolve_cores(None, bound=4) == 4
    assert probe.resolve_cores(2, bound=4) == 2
    assert probe.resolve_cores(4, bound=4) == 4
    with pytest.raises(probe.CoresRefused):
        probe.resolve_cores(0, bound=4)


def test_cli_refuses_oversubscription_and_records_not_measured():
    too_many = probe.bound_cpus() + 1
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload",
         "flagship", "--seed", "1", "--seconds", "1", "--cores",
         str(too_many)], capture_output=True, text=True, timeout=60)
    assert proc.returncode == 3
    assert proc.stdout == ""  # no result line
    assert "not measured" in proc.stderr
    path = proc.stderr.rsplit("(", 1)[1].rstrip(")\n")
    with open(path) as f:
        art = json.load(f)
    os.remove(path)
    assert art["status"] == "not measured"
    assert art["requested_cores"] == too_many
    assert art["bound_cpus"] == probe.bound_cpus()


def test_stratified_draw_allocation_is_proportional_and_exact():
    import inputs
    clear, cloudy = ("T1", "c1", True), ("T1", "c1", False)
    assert inputs._allocate({clear: [0] * 44, cloudy: [0] * 16}, 8) == [
        (cloudy, 2), (clear, 6)]
    # floors 2+2+2, then the two largest remainders, ties in key order
    sizes = dict(zip("abcde", (7, 7, 7, 1, 1)))
    alloc = inputs._allocate({k: [0] * n for k, n in sizes.items()}, 8)
    assert alloc == [("a", 3), ("b", 3), ("c", 2)]


def test_benchmark_json_matches_the_harness():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == run.WORKLOAD_NAMES
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER


def test_without_engine_sources_it_fails_without_a_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".data", "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "flagship",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert proc.returncode != 0
    assert proc.stdout == ""
