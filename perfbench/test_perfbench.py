"""The benchmark's own tests.

    python3 -m pytest perfbench -q

The end-to-end tests run each declared workload for its shortest
window, two timed passes (a few minutes in all); the rest are unit
tests of the helpers.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
sys.path.insert(0, str(HERE))

import inputs  # noqa: E402
import layers  # noqa: E402
import sampler  # noqa: E402

SPEC = json.loads((REPO / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]


def bench(*args: str) -> tuple[int, dict | None]:
    """Run the benchmark command from the repo root; (exit code, last
    stdout line as JSON or None)."""
    p = subprocess.run(
        [*SPEC["command"], *args], cwd=REPO, capture_output=True, text=True, timeout=300)
    lines = p.stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return p.returncode, None


def assert_metrics(result: dict, declared: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", WORKLOADS)
def test_short_run_prints_every_metric_and_is_correct(workload):
    code, result = bench("--workload", workload, "--seed", "3", "--seconds", "1", "--trace", "0")
    assert code == 0 and result is not None
    assert result["correct"] is True
    assert result["failed"] == 0 and result["attempted"] >= 1  # failed_frac is 0
    assert_metrics(result, SPEC["end_to_end"])


def test_traced_run_prints_every_layer_metric():
    code, result = bench("--workload", WORKLOADS[-1], "--seed", "3", "--seconds", "1", "--trace", "1")
    assert code == 0 and result is not None and result["correct"] is True
    assert_metrics(result, SPEC["per_layer"])
    assert result["metrics"]["check.failed_frac"]["value"] == 0
    trace = json.loads((REPO / ".perfbench" / f"trace-{WORKLOADS[-1]}.json").read_text())
    assert trace["spans"] and trace["ops"]


def test_corrupted_expected_hash_fails_the_run():
    code, result = bench("--workload", "amplicon", "--seed", "3", "--seconds", "1",
                         "--trace", "0", "--corrupt-hash", "get_consensus")
    assert code != 0
    assert result is not None and result["correct"] is False and result["failed"] >= 1


def test_run_root_is_fresh_and_removed(tmp_path):
    root = inputs.RunRoot(tmp_path / "runs")
    path = root.create()
    (path / "tmp" / "seqtables_x").write_text("x")
    assert root.stale_files(time.time() + 1)
    stale = inputs.RunRoot(tmp_path / "runs")
    stale.path = path
    with pytest.raises(FileExistsError):
        stale.create()
    root.remove()
    assert not (tmp_path / "runs").exists()


def test_documents_depend_only_on_the_seed():
    a, b, c = inputs.documents(5, 200), inputs.documents(5, 200), inputs.documents(6, 200)
    assert a == b and a["text"] != c["text"]
    assert all(len(t) == n for t, n in zip(a["text"], a["n_chars"]))
    assert any(t.endswith(" dup") for t in a["text"])


def test_plan_counts_and_metric_parsing():
    plan = (
        "AdaptiveSparkPlan isFinalPlan=true\n"
        "+- == Final Plan ==\n"
        "   *(2) HashAggregate(keys=[k#1])\n"
        "   +- AQEShuffleRead coalesced\n"
        "      +- ShuffleQueryStage 0\n"
        "         +- Exchange hashpartitioning(k#1, 4)\n"
        "            +- MapInArrow f(x#0)\n"
        "               +- BatchScan fastq[read_id#12] (Python) RuntimeFilters: []\n"
    )
    assert layers.plan_counts(plan) == (1, 2)
    assert layers._metric_value("total (min, med, max (stageId: taskId))\n1.5 s (1 ms)") == 1.5
    assert layers._metric_value("2.0 MiB") == 2.0
    assert layers._metric_value("12 ms") == pytest.approx(0.012)


def test_self_times_subtract_child_coverage():
    spans = [
        layers._span("op", None, "q", 0.0, 10.0),
        layers._span("op/build", "op", "build", 0.0, 6.0),
        layers._span("op/exec", "op", "exec", 6.0, 10.0),
        layers._span("op/job1", "op/build", "job 1", 1.0, 3.0),
        layers._span("op/job2", "op/build", "job 2", 2.0, 4.0),
    ]
    st = layers.self_times(spans)
    assert st["op"] == 0.0 and st["build"] == pytest.approx(3.0) and st["exec"] == 4.0


def test_samplers_read_this_process():
    assert sampler.rss_mb(os.getpid()) > 0
    assert sampler.rss_mb(2 ** 22 + 12345) == 0.0
    before = sampler.cpu_times()
    assert 0.0 <= sampler.steal_pct(before, sampler.cpu_times()) <= 100.0
    rss = sampler.PeakRss([os.getpid()], interval=0.01).start()
    assert rss.stop() >= sampler.rss_mb(os.getpid()) * 0.5
