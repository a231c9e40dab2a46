"""The benchmark's own tests: its printed names and units match
BENCHMARK.json, the generated dump is a pure function of the seed, and a
short run of each workload ends correct.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import inputs, run  # noqa: E402
from perfbench.oracle import same_rows  # noqa: E402


def _benchmark_json() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_names_and_units_match_benchmark_json():
    spec = _benchmark_json()
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert spec["command"] == ["python3", "perfbench/run.py"]


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for name in sorted(os.listdir(d)):
        with open(os.path.join(d, name), "rb") as fh:
            out[name] = fh.read()
    return out


def test_dump_is_a_function_of_the_seed(tmp_path):
    sets = []
    for seed, sub in ((5, "a"), (5, "b"), (6, "c")):
        d = tmp_path / sub
        d.mkdir()
        inputs.build_markup_dump(str(d), seed, 100_000)
        sets.append(_files(str(d)))
    assert sets[0] == sets[1]
    assert sets[0] != sets[2]


def test_cache_reuses_and_bounds_input_sets(tmp_path):
    calls = []

    def build(d, seed, size):
        calls.append(seed)
        return {"seed": seed}

    root = str(tmp_path)
    assert inputs.cached(root, "k", 1, 10, build)["seed"] == 1
    assert inputs.cached(root, "k", 1, 10, build)["seed"] == 1
    assert calls == [1]
    for seed in range(2, 2 + inputs.CACHE_KEEP + 2):
        inputs.cached(root, "k", seed, 10, build)
    assert len(os.listdir(root)) == inputs.CACHE_KEEP


def test_oracle_comparison_is_bitwise_and_order_free():
    assert same_rows(["a", "B"], [(1, 0.5), (2, 1.0)], ["b", "a"], [(1.0, 2), (0.5, 1)]) is None
    assert same_rows(["a"], [(0.0,)], ["a"], [(-0.0,)]) is not None
    assert same_rows(["a"], [(1,), (1,)], ["a"], [(1,), (2,)]) is not None


def test_catalog_tables_are_the_sf001_test_data():
    from wikihadoop_spark.catalog import TABLE_NAMES

    truth = inputs.catalog_tables()
    assert sorted(os.listdir(truth["dir"])) == sorted(f"{t}.parquet" for t in TABLE_NAMES)
    assert truth["bytes"] > 0


@pytest.mark.parametrize(
    "workload,extra,trace",
    [("diffdb_bz2", ["--size", "300000"], 0), ("catalog_sf0.01", [], 1)],
)
def test_short_run_is_correct_and_prints_the_declared_metrics(workload, extra, trace):
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    spec = _benchmark_json()["per_layer" if trace else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in spec
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
