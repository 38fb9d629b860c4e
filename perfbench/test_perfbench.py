"""Tests of the benchmark's own code.

    python3 -m pytest perfbench -q

The last test starts Spark and replays two traced nightly days
(about a minute on 4 cores).
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import mixdata  # noqa: E402
import run  # noqa: E402
from etl_processing_scd1_spark.pipeline import RunReport  # noqa: E402
from nightly_gen import NightlyData, NightlyScale, day_of  # noqa: E402

SMALL = NightlyScale(days=2, tx_per_day=60, terminals=20, clients=20)


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _match, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    if mismatch or errors:
        return False
    return all(_same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_nightly_generator_is_deterministic(tmp_path):
    runs = []
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        gen = NightlyData(str(tmp_path / name), seed, SMALL)
        gen.write()
        runs.append(gen)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))
    assert [runs[0].expected(i) for i in range(3)] == [runs[1].expected(i) for i in range(3)]
    # day 0 bootstraps every dimension; later days carry planted churn
    assert runs[0].expected(0)["dim_counts"]["terminals"]["inserted"] == SMALL.terminals
    churn = runs[0].expected(1)["dim_counts"]["terminals"]
    assert churn["inserted"] and churn["updated"] and churn["deleted"]
    # re-delivered ids are not appended twice
    assert runs[0].expected(1)["fact_appended"]["transactions"] < runs[0].staged_rows(1)


def test_mix_generator_is_deterministic(tmp_path):
    for name, seed in (("a", 3), ("b", 3), ("c", 4)):
        mixdata.generate(str(tmp_path / name), seed, 0.001)
    assert _same_tree(str(tmp_path / "a"), str(tmp_path / "b"))
    assert not _same_tree(str(tmp_path / "a"), str(tmp_path / "c"))


def test_day_check_fails_on_a_planted_wrong_count(tmp_path):
    bench = run.Bench("nightly_small", 5, 20, False, str(tmp_path))
    bench.gen = NightlyData(str(tmp_path / "nightly"), 5, SMALL)
    bench.gen.write()

    def report(idx: int) -> RunReport:
        want = json.loads(json.dumps(bench.gen.expected(idx)))
        return RunReport(day=day_of(idx), dim_counts=want["dim_counts"],
                         fact_appended=want["fact_appended"],
                         fraud_events=want["fraud_events"])

    bench.reports = [report(i) for i in range(3)]
    assert bench.check_reports() and bench.failed == 0
    bench.reports[2].dim_counts["clients"]["updated"] += 1
    assert not bench.check_reports()
    assert bench.failed == 1


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)


def test_run_without_the_engine_fails_without_a_result(tmp_path):
    bench_dir = tmp_path / "perfbench"
    bench_dir.mkdir()
    for name in os.listdir(HERE):
        if name.endswith(".py"):
            shutil.copy(os.path.join(HERE, name), bench_dir / name)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""


@pytest.fixture
def traced_nightly(tmp_path, monkeypatch):
    # Bench.run repoints TMPDIR; monkeypatch restores what it set
    monkeypatch.setenv("TMPDIR", str(tmp_path))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setenv("PYSPARK_PYTHON", sys.executable)
    bench = run.Bench("nightly_small", 9, 10, True, str(tmp_path))
    try:
        result = bench.run()
        yield bench, result
    finally:
        bench.close()
        tempfile.tempdir = None


def test_traced_nightly_day_spans_add_up(traced_nightly):
    bench, result = traced_nightly
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == set(run.PER_LAYER)
    tr = bench.tracer
    days = [s for s in tr.spans if s.name == "pipeline.run_day"]
    assert len(days) == len(bench.ops) == bench.gen.scale.days
    for day, wall in zip(days, bench.ops):
        tree = tr.subtree(day)
        assert len(tree) > 20
        assert sum(tr.self_time(s) for s in tree) == pytest.approx(day.duration, abs=1e-9)
        # the benchmark's own timing wraps the span
        assert 0 < day.duration <= wall
    m = result["metrics"]
    assert m["spark.jobs"]["value"] > 0 and m["py4j.calls"]["value"] > 0
    assert m["fraud.events"]["value"] > 0
    assert m["pipeline.run_day.self_s"]["value"] > 0
