"""The benchmark's own test: every workload at a tiny size.

    python3 -m pytest perfbench -q

Checks that each run prints every named metric with its unit, that a
corrupted golden fails the correctness check, that BENCHMARK.json and
metrics.py name the same metrics, and that without the program the
benchmark fails without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402
import sqlmetrics  # noqa: E402

TINY = "2000"


def _run(*args: str, cwd: str = ROOT) -> tuple:
    proc = subprocess.run(
        [sys.executable, os.path.join("perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, json.loads(lines[-1]) if lines else None, proc.stderr


@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["extract_bulk", "resume_extract"])
def test_workload_prints_every_metric(workload, trace):
    rc, out, err = _run("--workload", workload, "--seed", "3", "--seconds", "1",
                        "--trace", trace, "--size", TINY)
    assert rc == 0, err[-2000:]
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    catalogue = metrics.PER_LAYER if trace == "1" else metrics.END_TO_END
    assert {k: v["unit"] for k, v in out["metrics"].items()} == {
        k: spec[0] for k, spec in catalogue.items()}
    for name, m in out["metrics"].items():
        assert isinstance(m["value"], float), name
    values = {k: m["value"] for k, m in out["metrics"].items()}
    if trace == "0":
        assert all(v > 0 for v in values.values())
        return
    # a metric of a layer the workload does not exercise reads 0; the run
    # itself fails if one it does exercise was not read from Spark
    exercised = metrics.defined_for(workload)
    assert all(v == 0 for k, v in values.items() if k not in exercised)
    assert values["host.cpu_probe_s"] > 0
    if workload == "resume_extract":
        assert values["checkpoint.buckets_skipped"] == 16
        assert values["checkpoint.resume_s"] > 0
    else:
        assert values["datapipe.rows_out"] > 0
        assert values["job.exchange_mb"] > 0


@pytest.mark.parametrize("trace", ["0", "1"])
def test_corrupted_golden_fails_the_check(trace):
    # a traced extract_bulk run also checks the curation pipelines against
    # their DuckDB oracles; with --corrupt-golden both checks must fail
    rc, out, err = _run("--workload", "extract_bulk", "--seed", "3", "--seconds", "1",
                        "--trace", trace, "--size", TINY, "--corrupt-golden")
    assert rc == 1
    assert out["correct"] is False
    assert "texts differ from the goldens" in err
    if trace == "1":
        assert "values differ from the DuckDB oracle" in err


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert {m["name"]: (m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]} \
        == metrics.END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in bench["per_layer"]} \
        == {k: spec[:2] for k, spec in metrics.PER_LAYER.items()}
    from run import SIZES

    assert sorted(w["name"] for w in bench["workloads"]) == sorted(SIZES)


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", "__pycache__"))
    rc, out, _ = _run("--workload", "extract_bulk", "--seed", "1", "--seconds", "1",
                      cwd=str(tmp_path))
    assert rc != 0 and out is None


def test_missing_metrics_are_errors_not_zeros():
    with pytest.raises(LookupError):
        sqlmetrics.total([{"Sort/spill size": [sqlmetrics.Metric(0.0)]}],
                         "Exchange", "shuffle bytes written")
    assert sqlmetrics.total([{"Sort/spill size": [sqlmetrics.Metric(0.0)]}],
                            "Sort", "spill size") == 0.0
    with pytest.raises(KeyError):
        metrics.render({}, "per_layer", "resume_extract")
    with pytest.raises(KeyError):
        metrics.render({"setup_s": 1.0}, "end_to_end", "extract_bulk")


def test_parse_spark_metric_strings():
    m = sqlmetrics.parse("total (min, med, max (stageId: taskId))\n"
                         "28.3 s (3.6 s, 6.1 s, 6.5 s (stage 12.0: task 1))")
    assert (m.total, m.task_min, m.task_med, m.task_max, m.stage) == (28.3, 3.6, 6.1, 6.5, 12)
    assert sqlmetrics.parse("14.3 MiB").total == 14.3 * (1 << 20)
    assert sqlmetrics.parse("50,000").total == 50000
    assert sqlmetrics.parse("47 ms").total == pytest.approx(0.047)
