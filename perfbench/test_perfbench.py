"""Self-test of the benchmark (not part of the tier-1 suite, which
collects ``tests/`` only).  Runs every workload at a tiny size, so it
takes a few minutes:

    python -m pytest perfbench -q -p no:cacheprovider
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

from harness import Tracer, median, p90  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)
WORKLOADS = [w["name"] for w in BENCH["workloads"]]


def _run(workload, *extra, cwd=ROOT, trace=0):
    out = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--size", "tiny", *extra],
        capture_output=True, text=True, cwd=cwd, timeout=600)
    return out


def _result(out):
    assert out.returncode == 0, out.stderr[-3000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_tiny_run_emits_every_end_to_end_metric(workload):
    out = _run(workload)
    res = _result(out)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0
    assert res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    for k, v in res["metrics"].items():
        assert isinstance(v["value"], float) and v["value"] > 0, k
        assert k in out.stdout.split("{")[0]  # also in the readable table


@pytest.mark.parametrize("workload", WORKLOADS)
def test_wrong_expected_answer_counts_as_error(workload):
    res = _result(_run(workload, "--corrupt-expected"))
    assert res["correct"] is False
    # the wrong answer fails its checks; the other attempts still pass
    assert 1 <= res["failed"] < res["attempted"]


# layer figures only the workload's own report produces (scan-mixed's
# traced run also measures the analytics layer)
OWN_LAYER = {"encode-files": ("engine.plan_s",),
             "encode-shuffle-fpsc": ("engine.pretrain_s",),
             "scan-mixed": ("sources.fps_over_native",
                            "analytics.stages_per_query",
                            "analytics.query_suite_s"),
             "analytics": ("analytics.stages_per_query",)}


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_emits_every_per_layer_metric(workload):
    out = _run(workload, trace=1)
    res = _result(out)
    assert res["correct"] is True
    want = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    trace = os.path.join(ROOT, ".perfbench", "trace", f"{workload}-s7.json")
    with open(trace) as f:
        doc = json.load(f)
    assert doc["spans"] and doc["self_times"]
    for name in OWN_LAYER[workload]:
        assert doc["layers"][name] > 0, name
    assert doc["layers"]["engine.spark_jobs_per_op"] >= 1


def test_checkout_without_the_program_fails(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(WORKLOADS[0], cwd=str(tmp_path))
    assert out.returncode != 0
    assert not out.stdout.strip()


def test_p90_and_median():
    assert median([3, 1, 2]) == 2 and median([4, 1, 3, 2]) == 2.5
    assert p90([1.0, 2.0, 3.0]) == 3.0
    for n in (19, 20, 30, 48):  # the same rank whatever the sample count
        xs = [float(i) for i in range(1, n + 1)]
        assert p90(xs) == float(-(-9 * n // 10))


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    with tr.span("outer", op=1):
        with tr.span("inner"):
            pass
    st = tr.self_times()
    inner = tr.spans[1]["end"] - tr.spans[1]["start"]
    outer = tr.spans[0]["end"] - tr.spans[0]["start"]
    assert tr.spans[1]["parent"] == 0 and tr.spans[1]["op"] == 1
    assert abs(st["outer"]["self_s"] - (outer - inner)) < 1e-12
