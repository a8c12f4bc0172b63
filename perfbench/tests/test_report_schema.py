"""Report-schema self-test of the benchmark.

Runs every workload of BENCHMARK.json at a tiny size, untraced and traced,
and checks every end-to-end and per-layer metric name and unit against
BENCHMARK.json and the span fields of the trace. From the checkout root:

    python3 -m pytest perfbench/tests -q

Each run starts its own Spark JVM, so the module takes a few minutes.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
SPAN_FIELDS = {"run_id", "span_id", "parent_id", "name", "layer", "start_s",
               "end_s", "self_s", "job_group", "attrs"}
PIPELINE_LAYERS = ("signature", "lsh", "verify", "cluster")
SEED = 7


def _run(cwd: Path, workload: str, trace: int, scale: str = "tiny"):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(SEED), "--seconds", "1", "--trace", str(trace),
         "--scale", scale],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def _report(workload: str, trace: int) -> dict:
    p = _run(ROOT, workload, trace)
    assert p.returncode == 0, p.stderr[-4000:]
    report = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(report) == {"correct", "attempted", "failed", "metrics"}
    assert report["correct"] is True
    assert report["failed"] == 0 and report["attempted"] >= 1
    return report


@pytest.mark.parametrize("workload", WORKLOADS)
def test_end_to_end_metrics(workload):
    metrics = _report(workload, 0)["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want
    assert all(v["value"] > 0 for v in metrics.values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_per_layer_metrics_and_spans(workload):
    metrics = _report(workload, 1)["metrics"]
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in metrics.items()} == want

    trace = json.loads((ROOT / ".perfbench_out" / f"{workload}-seed{SEED}"
                        / "trace.json").read_text())
    spans = trace["spans"]
    assert spans and all(SPAN_FIELDS <= set(s) for s in spans)
    assert {s["run_id"] for s in spans} == {trace["run_id"]}
    ids = {s["span_id"] for s in spans}
    assert all(s["parent_id"] in ids for s in spans
               if s["parent_id"] is not None)
    assert all(s["end_s"] >= s["start_s"] and s["self_s"] >= -1e-9
               for s in spans)
    # the four layer walls plus the overhead account for the pipeline wall
    layer = trace["per_layer"]
    walls = sum(layer[f"{name}.wall_s"] for name in PIPELINE_LAYERS)
    assert walls > 0
    assert walls + layer["pipeline.overhead_s"] == pytest.approx(
        layer["pipeline.wall_s"])
    for name in PIPELINE_LAYERS:
        assert (ROOT / ".perfbench_out" / f"{workload}-seed{SEED}"
                / f"plan_{name}.txt").stat().st_size > 0


def test_refuses_without_the_program(tmp_path):
    """Beside only BENCHMARK.json and perfbench/, the command fails fast
    and prints no result."""
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(tmp_path, WORKLOADS[0], 0, scale="full")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout


def test_input_pins(tmp_path):
    """Seed-1 inputs still hash to the pins in pins.json."""
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(BENCH))
    import inputs
    from run import SIZES

    pins = json.loads((BENCH / "pins.json").read_text())
    for workload in WORKLOADS:
        for seed, want in pins[workload].items():
            assert inputs.workload_pin(workload, int(seed),
                                       SIZES["full"][workload],
                                       str(tmp_path / workload)) == want
