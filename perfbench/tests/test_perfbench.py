"""Self-tests for the benchmark.

    python3 -m pytest perfbench/tests -q

The smoke test starts one Spark session per workload at a tiny input
size, so the whole file takes a few minutes.
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
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.workloads import WORKLOADS  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def load_benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _generate_all(seed: int, root: str) -> None:
    gen.make_records_api(seed, f"{root}/records", 500)
    gen.make_kpl_ingest(seed, f"{root}/kpl", 2000)
    gen.make_operator_suite(seed, f"{root}/suite", 200, 30, 30, 50, 2)


def test_same_seed_gives_identical_inputs(tmp_path):
    _generate_all(7, str(tmp_path / "a"))
    _generate_all(7, str(tmp_path / "b"))
    _generate_all(8, str(tmp_path / "c"))
    for sub in ("records", "kpl", "suite"):
        a = gen.dir_digest(str(tmp_path / "a" / sub))
        assert a == gen.dir_digest(str(tmp_path / "b" / sub)), sub
        assert a != gen.dir_digest(str(tmp_path / "c" / sub)), sub
    assert gen.records_requests(7, 50) == gen.records_requests(7, 50)


def test_generator_expectations_are_consistent():
    table, exp = gen.kpl_wire_records(3, 3000)
    assert exp.wire_records == table.num_rows == sum(exp.kinds.values())
    assert exp.dropped_aggregates == exp.kinds["corrupt"] > 0
    assert exp.invalid_json >= exp.kinds["plain_invalid"] > 0
    reqs = gen.records_requests(3, 400)
    assert 0.05 < sum(r["status"] == 400 for r in reqs) / len(reqs) < 0.2
    # tpch_q6 must aggregate rows, not an empty window
    li = gen.tpch_tables(3, 600)["lineitem"].to_pandas()
    q6 = li[
        (li.l_shipdate >= "1994-01-01")
        & (li.l_shipdate < "1995-01-01")
        & li.l_discount.between(0.05, 0.07)
        & (li.l_quantity < 24)
    ]
    assert len(q6) >= 20


def test_names_match_benchmark_json():
    bench = load_benchmark()
    assert {w["name"] for w in bench["workloads"]} == set(WORKLOADS)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in bench["per_layer"]}
    assert e2e == END_TO_END
    assert layers == PER_LAYER
    assert e2e["setup_s"] == "s"
    for m in bench["end_to_end"]:
        assert 0 < m["bound"] <= 0.25
    for name, unit in list(e2e.items()) + list(layers.items()):
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert len(set(e2e) | set(layers)) == len(e2e) + len(layers)


def _run(args: list[str], cwd: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )


def test_refuses_to_run_without_engine_sources(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(["--workload", "records_api", "--seed", "1", "--seconds", "1", "--trace", "0"], str(tmp_path))
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.parametrize(
    "workload,trace", [("records_api", 1), ("operator_suite", 0), ("operator_suite", 1)]
)
def test_smoke_run_passes_output_checks(workload, trace):
    out = _run(
        ["--workload", workload, "--seed", "5", "--seconds", "1", "--trace", str(trace), "--scale", "0.1"],
        ROOT,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    lines = [json.loads(line) for line in out.stdout.strip().splitlines()]
    result = lines[-1]
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    expected = PER_LAYER if trace else END_TO_END
    assert {k: v["unit"] for k, v in result["metrics"].items()} == expected
    for name in lines[0]["report"]:
        assert NAME.match(name), name
