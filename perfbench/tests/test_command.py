"""Tests of the benchmark command, run end to end at a tiny input size.

    python3 -m pytest perfbench/tests -q      # from the repository root
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[2]
BENCH = json.loads((ROOT / "BENCHMARK.json").read_text())
RUNS = {
    ("migrate_lifecycle", 1, 0),
    ("migrate_lifecycle", 2, 0),
    ("migrate_lifecycle", 1, 1),
    ("query_mix", 1, 0),
    ("query_mix", 1, 1),
}


def _command(workload: str, seed: int, trace: int) -> list[str]:
    return [
        sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", "1", "--trace", str(trace), "--size", "tiny",
    ]


WORK = ROOT / ".perfbench_work"


def _work_entries() -> set[str]:
    return set(p.name for p in WORK.iterdir()) if WORK.exists() else set()


@pytest.fixture(scope="module")
def work_before() -> set[str]:
    return _work_entries()


@pytest.fixture(scope="module")
def runs(work_before) -> dict[tuple, dict]:
    """Each run once; the tests below share them."""
    out = {}
    for key in sorted(RUNS):
        proc = subprocess.run(
            _command(*key), cwd=ROOT, capture_output=True, text=True, timeout=600
        )
        assert proc.returncode == 0, proc.stderr[-3000:]
        out[key] = json.loads(proc.stdout.strip().splitlines()[-1])
    return out


def test_every_named_metric_is_emitted_with_its_unit(runs):
    e2e = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert len(layer) <= 128
    for (workload, _, trace), res in runs.items():
        assert set(res) == {"correct", "attempted", "failed", "metrics"}
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
        want = layer if trace else e2e
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == want, workload
        for name, v in res["metrics"].items():
            assert isinstance(v["value"], (int, float)), name
            if not trace:
                assert v["value"] > 0, name


def test_workloads_match_benchmark_json():
    from perfbench.run import WORKLOADS

    assert tuple(w["name"] for w in BENCH["workloads"]) == WORKLOADS


def test_seeds_do_not_change_the_metric_set(runs):
    """(That seeds do change the inputs is tested in test_gates.)"""
    a, b = runs[("migrate_lifecycle", 1, 0)], runs[("migrate_lifecycle", 2, 0)]
    assert set(a["metrics"]) == set(b["metrics"])


def test_pyworker_cpu_is_seen_only_where_python_runs(runs):
    """Not vacuous: the Python data source burns Python-worker CPU that
    Spark's executor CPU does not count, and JVM-only modules burn none."""
    m = {k: v["value"] for k, v in runs[("query_mix", 1, 1)]["metrics"].items()}
    assert m["operators.sources.pyworker_cpu_s"] > 0
    for layer in (
        "operators.aggregates", "operators.joins", "operators.windows", "operators.sorting",
        "operators.control", "operators.timeseries", "operators.analytics",
        "streaming.batch_equiv",
    ):
        assert m[f"{layer}.pyworker_cpu_s"] == 0, layer
        assert m[f"{layer}.jobs"] > 0, layer
    mig = {k: v["value"] for k, v in runs[("migrate_lifecycle", 1, 1)]["metrics"].items()}
    assert mig["app.forwarder.jobs_per_sync"] > 0
    assert mig["app.forwarder.rows_read_per_row_forwarded"] >= 1
    assert mig["app.metadata.calls"] > 0
    assert all(mig[f"{layer}.jobs"] == 0 for layer in ("operators.aggregates", "operators.pipeline"))


def test_run_leaves_no_work_directory_behind(runs, work_before):
    assert _work_entries() <= work_before


def test_fails_without_result_where_the_program_is_missing(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        ["python3", *BENCH["command"][1:], "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170,
    )
    assert proc.returncode != 0
    assert "metrics" not in proc.stdout
