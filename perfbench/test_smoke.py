"""Self-test of the benchmark at minimal table sizes.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``run.py`` the way the harness does and checks that:

- every metric that BENCHMARK.json names is printed with its unit;
- the output checks pass;
- no process of the run's session is left;
- a run whose JVM dies fails, and still leaves no process behind;
- a SIGTERM to ``run.py`` while Spark jobs run stops the whole session;
- a directory without the engine exits non-zero and prints no result.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402
import workload  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCH = json.load(_f)


def _run(cwd: str, name: str, trace: int, fault: str = "none", size: str = "smoke"):
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", name, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", size, "--fault", fault],
        cwd=cwd, capture_output=True, text=True, timeout=200,
    )
    m = re.search(r"session=(\d+)", p.stderr)
    return p, (int(m.group(1)) if m else None)


def test_declared_metrics_match_the_code():
    assert {m["name"]: m["unit"] for m in BENCH["end_to_end"]} == workload.END_TO_END
    assert {m["name"]: m["unit"] for m in BENCH["per_layer"]} == workload.PER_LAYER
    assert [w["name"] for w in BENCH["workloads"]] == sorted(workload.WORKLOADS)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("name", sorted(workload.WORKLOADS))
def test_run_prints_every_metric_and_leaves_nothing(name, trace):
    p, sid = _run(ROOT, name, trace)
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    declared = BENCH["per_layer" if trace else "end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    if not trace:
        assert all(result["metrics"][m["name"]]["value"] > 0 for m in declared)
    assert sid is not None and procs.session_pids(sid) == []


def test_dead_jvm_fails_the_run_and_leaves_nothing():
    p, sid = _run(ROOT, "clip_pass", 0, fault="kill-jvm")
    assert p.returncode == 1
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] is False and result["failed"] >= 1
    assert sid is not None and procs.session_pids(sid) == []


def test_sigterm_mid_run_stops_the_session():
    p = subprocess.Popen(
        [sys.executable, "perfbench/run.py", "--workload", "clip_pass", "--seed", "7",
         "--seconds", "1", "--trace", "0", "--size", "smoke"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )
    try:
        m = re.search(r"session=(\d+)", p.stderr.readline())
        assert m, "run.py did not name its session"
        sid = int(m.group(1))
        # wait until Python workers run Spark tasks, i.e. the JVM is up and
        # an op or the set-up is under way
        deadline = time.monotonic() + 120
        while not any("pyspark.daemon" in d for d in procs.describe(procs.session_pids(sid))):
            assert time.monotonic() < deadline, "no Spark job started"
            time.sleep(0.2)
        p.send_signal(signal.SIGTERM)
        out, _ = p.communicate(timeout=60)
    finally:
        if p.poll() is None:
            p.kill()
            p.wait()
    assert p.returncode == 128 + signal.SIGTERM
    assert out == ""
    assert procs.session_pids(sid) == []


def test_without_the_engine_exits_nonzero_and_prints_nothing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p, _ = _run(str(tmp_path), "clip_pass", 0)
    assert p.returncode != 0
    assert p.stdout == ""
