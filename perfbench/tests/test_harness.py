"""Smoke tests of the benchmark harness on tiny inputs.

    python -m pytest perfbench/tests -q

Each workload runs once untraced and once with a planted wrong expected
value; the two benchmark workloads also run traced (with their probes).
"""

import json
import os
import shutil
import subprocess

import pytest

import harness
import workloads
from spans import Tracer, parse_metric_value, union_length


BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(BENCH)


def run(spark, run_dir, name, trace=False, plant_wrong=False):
    data = os.path.join(run_dir, f"data-{name}-{trace}-{plant_wrong}")
    try:
        return harness.run_workload(
            spark, name, seed=5, seconds=0, trace=trace,
            sizes=workloads.SMOKE, workdir=data, plant_wrong=plant_wrong,
        )
    finally:
        shutil.rmtree(data, ignore_errors=True)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_untraced_run_emits_every_end_to_end_metric(spark, run_dir, quick, name):
    rep = run(spark, run_dir, name)
    assert rep["correct"], rep["detail"]["errors"]
    assert rep["failed"] == 0 and rep["attempted"] >= 2
    assert rep["metrics"].keys() == harness.END_TO_END_UNITS.keys()
    for key, m in rep["metrics"].items():
        assert m["unit"] == harness.END_TO_END_UNITS[key]
        assert m["value"] > 0, key
    assert rep["detail"]["failed_op_ratio"] == 0.0
    # negative when Spark's cleaner drops RDDs an earlier op leaked
    assert isinstance(rep["detail"]["leaked_rdds_per_op"], float)


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
def test_planted_wrong_expected_value_fails_every_op(spark, run_dir, quick, name):
    rep = run(spark, run_dir, name, plant_wrong=True)
    assert not rep["correct"]
    assert rep["failed"] == rep["attempted"] >= 1
    assert all("wrong output" in e for e in rep["detail"]["errors"])


@pytest.mark.parametrize("name, own, probed", [
    ("validate_fresh", "verdicts.validate_corpus_s", "checkpoint.partition_fingerprints_s"),
    ("json_schema", "normalise.repeated_s", "curate.near_dedup_s"),
])
def test_traced_run_emits_every_per_layer_metric(spark, run_dir, quick, name, own, probed):
    rep = run(spark, run_dir, name, trace=True)
    assert rep["correct"], rep["detail"]["errors"]
    assert rep["metrics"].keys() == harness.PER_LAYER_UNITS.keys()
    for key, m in rep["metrics"].items():
        assert m["unit"] == harness.PER_LAYER_UNITS[key]
    values = {k: m["value"] for k, m in rep["metrics"].items()}
    assert values[own] > 0 and values[probed] > 0
    assert values["spark.jobs"] >= 1 and values["spark.tasks"] >= 1
    assert values["traced.op_s_p50"] > 0
    spans = rep["detail"]["spans"]
    assert {"id", "name", "start", "end", "parent", "self_s"} <= spans[0].keys()
    assert any(s["parent"] is not None for s in spans)
    assert all(0 <= s["self_s"] <= s["dur_s"] + 1e-9 for s in spans)
    if name == "validate_fresh":
        assert values["resume.revalidated_sources"] == 1


def test_tracer_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("outer"):
        with t.span("inner"):
            pass
    outer, inner = t.export()
    assert inner["parent"] == outer["id"]
    assert outer["self_s"] == pytest.approx(outer["dur_s"] - inner["dur_s"])


def test_disabled_tracer_wraps_nothing():
    class Owner:
        @staticmethod
        def f():
            return 1

    before = Owner.f
    t = Tracer(False)
    t.wrap(Owner, "f", "f")
    assert Owner.f is before and t.spans == []


def test_union_length_merges_overlaps_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(-5, 1), (9, 20)], 0, 10) == 2
    assert union_length([], 0, 10) == 0


def test_parse_metric_value():
    assert parse_metric_value("total (min, med, max (stageId: taskId))\n"
                              "1.5 s (10 ms, 20 ms, 1.0 s (stage 3.0: task 7))") == 1.5
    assert parse_metric_value("total (min, med, max)\n2.0 MiB (1 B, 1 B, 1 B)") == 2 * 1024 ** 2
    assert parse_metric_value("120 ms") == pytest.approx(0.12)


def test_cli_fails_without_the_package(run_dir):
    """A directory holding only the benchmark must exit non-zero and print
    no result line."""
    from pathlib import Path

    tmp_path = Path(run_dir) / "bare"
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    cmd = json.load(open(tmp_path / "BENCHMARK.json"))["command"]
    proc = subprocess.run(
        cmd + ["--workload", "validate_fresh", "--seed", "1", "--seconds", "1",
               "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
