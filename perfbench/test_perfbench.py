"""Self-tests of the benchmark (not of the library).

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

* every workload, at a tiny input size, emits each metric BENCHMARK.json
  names, with its unit, in both the plain and the traced run;
* every workload's checks pass on its true outputs and fail once the
  ground truth they compare against is corrupted.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.workloads import WORKLOADS, DedupCorpus, SampleDiff, TableCommits  # noqa: E402

TINY = "0.05"


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_smoke_emits_every_metric(workload, trace):
    spec = _spec()
    assert workload in {w["name"] for w in spec["workloads"]}
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "3",
         "--seconds", "0.1", "--trace", str(trace), "--scale", TINY],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 1
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


def test_no_library_means_failure(tmp_path):
    """Without the library next to it the benchmark exits non-zero and
    prints no result."""
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for name in os.listdir(os.path.join(ROOT, "perfbench")):
        if name.endswith(".py"):
            (bench / name).write_bytes(open(os.path.join(ROOT, "perfbench", name), "rb").read())
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sample_diff", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


# ------------------------------------------------- checks vs corrupted truth


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    from ratatool_spark.session import get_spark

    return get_spark("perfbench-selftest", extra_conf={"spark.ui.showConsoleProgress": "false"})


PARTS = {cls.name: cls for cls in (SampleDiff, DedupCorpus, TableCommits)}


def _workload(spark, name, tmp_path):
    from perfbench.harness import Recorder

    rec = Recorder(spark, trace=False)
    wl = PARTS[name](spark, rec, str(tmp_path / "work"), 5, float(TINY))
    wl.prepare(str(tmp_path / "inputs"))
    rec.pass_id = 1
    return wl, rec


def _corrupt_sample_diff(wl):
    wl.truth.diff.num_diff += 1
    wl.truth.n_lineitem += 1


def _corrupt_dedup_corpus(wl):
    wl.truth.n_changed += 1
    (a, _), _ = next(iter(wl.truth.planted_pairs.items()))
    wl.truth.texts[a] += " extra words here"


def _corrupt_table_commits(wl):
    wl.model.rows.iloc[0, wl.model.rows.columns.get_loc("v")] += 1.0


@pytest.mark.parametrize("name", sorted(PARTS))
def test_checks_fail_on_corrupted_truth(spark, tmp_path, name):
    wl, rec = _workload(spark, name, tmp_path)
    wl.run_pass()
    assert rec.failures == [] and rec.ops()[1] == 0
    globals()[f"_corrupt_{name}"](wl)
    rec.pass_id = 2
    wl.run_pass()
    assert rec.failures, "corrupted ground truth went unnoticed"
    assert rec.ops(first_pass=2)[1] > 0
