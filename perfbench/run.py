"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload clip_pass --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The workload runs in a child process that
leads its own session, so the driver JVM and every Python worker belong to
it; after the child ends this process waits for the whole session to exit,
stops whatever is left, and fails the run if anything survives. The last
line of standard output is the result as one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics with ``--trace 0``, the per-layer ones with ``--trace 1``).
Progress and diagnostics go to standard error; the child's own log and the
trace spans are kept under ``.perfbench_work/`` in the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import procs  # noqa: E402

WORKLOADS = ("clip_pass", "incremental")
CHILD_TIMEOUT_S = 145.0  # leaves time to stop the session inside 180 s
EXIT_WAIT_S = 10.0  # a clean session empties this fast once the child is gone


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full",
                    help="smoke: minimal tables, for the self-test")
    ap.add_argument("--fault", choices=("none", "kill-jvm"), default="none",
                    help="kill-jvm: kill the driver JVM before the first timed op")
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "baskerville_spark")):
        print(f"perfbench: no baskerville_spark package under {ROOT}", file=sys.stderr)
        return 2

    work_root = os.path.join(ROOT, ".perfbench_work")
    wd = os.path.join(work_root, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    os.makedirs(wd)
    result_path = os.path.join(wd, "result.json")
    log_path = os.path.join(work_root, f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    cmd = [sys.executable, os.path.join(HERE, "workload.py"),
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--size", args.size, "--fault", args.fault,
           "--workdir", wd, "--result", result_path]
    if args.trace:
        cmd += ["--trace-out", os.path.join(
            work_root, f"trace-{args.workload}-seed{args.seed}.json")]

    # A SIGTERM to this process must still stop the session. It ends the
    # wait for the child; once the cleanup below starts it is only noted,
    # so a second SIGTERM cannot cut the cleanup short.
    term = {"armed": False, "seen": False}

    def on_term(signum, frame):
        term["seen"] = True
        if term["armed"]:
            raise SystemExit(128 + signum)

    signal.signal(signal.SIGTERM, on_term)
    with open(log_path, "w") as log:
        child = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=log,
                                 stderr=subprocess.STDOUT, start_new_session=True)
    sid = child.pid
    print(f"perfbench: {args.workload} seed={args.seed} session={sid} log={log_path}",
          file=sys.stderr)
    timed_out = False
    try:
        term["armed"] = True
        if not term["seen"]:
            child.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        timed_out = True
    except SystemExit:
        pass  # SIGTERM while waiting: stop the session, report no result
    finally:
        term["armed"] = False
        # a session whose leader ended on its own gets a moment to exit by
        # itself; otherwise (timeout, SIGTERM) it is stopped at once. Then
        # stop what is left and wait until it is gone.
        grace = EXIT_WAIT_S if child.poll() is not None else 0.0
        deadline = time.monotonic() + grace
        while procs.session_pids(sid) and time.monotonic() < deadline:
            time.sleep(0.1)
        lingering = procs.describe(procs.session_pids(sid)) if grace else []
        survivors = procs.stop_session(sid)
        child.wait()
    if term["seen"]:
        shutil.rmtree(wd, ignore_errors=True)
        print(f"perfbench: stopped by SIGTERM; processes left: {survivors}", file=sys.stderr)
        return 128 + signal.SIGTERM

    problems = []
    if timed_out:
        problems.append(f"run exceeded {CHILD_TIMEOUT_S:.0f} s and was stopped")
    if lingering:
        problems.append("processes left running after the run: " + "; ".join(lingering))
    if survivors:
        problems.append(f"processes survived SIGKILL: {survivors}")

    result = None
    if os.path.exists(result_path):
        with open(result_path) as f:
            result = json.load(f)
    shutil.rmtree(wd, ignore_errors=True)
    if result is None:
        problems.append("the workload wrote no result")
        result = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}, "info": {}}

    for line in problems:
        print(f"perfbench: FAIL {line}", file=sys.stderr)
    if problems:
        result["correct"] = False
        result["failed"] = max(result["failed"], 1)
    info = result.pop("info", {})
    print(f"perfbench: {json.dumps(info)}", file=sys.stderr)
    if not result["correct"]:
        print(f"perfbench: see {log_path}", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
