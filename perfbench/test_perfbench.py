"""Smoke test of the benchmark: every workload once at a tiny size, traced
and untraced, with all correctness checks, and every metric that
BENCHMARK.json names present in the output.

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def test_smoke_runs_every_workload_and_reports_every_metric():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    lines = [json.loads(line) for line in proc.stdout.splitlines() if line.startswith("{")]
    assert proc.returncode == 0, proc.stdout[-4000:] + proc.stderr[-4000:]
    seen = {(d["workload"], d["trace"]) for d in lines}
    names = [w["name"] for w in spec["workloads"]]
    assert seen == {(w, t) for w in names for t in (0, 1)}
    for d in lines:
        assert d["ok"], d
        result = d["result"]
        assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
        want = spec["per_layer"] if d["trace"] else spec["end_to_end"]
        assert {m["name"] for m in want} <= set(result["metrics"]), d["workload"]


def test_reap_leaves_no_process_of_a_child_that_changed_group():
    """The Python worker daemon moves into its own process group; the
    runner must still kill and reap it, zombies included."""
    sys.path.insert(0, ROOT)
    from perfbench import run

    script = (
        "import os, sys, time\n"
        "pid = os.fork()\n"
        "if pid == 0:\n"
        "    os.setpgid(0, 0)\n"
        "    time.sleep(60)\n"
        "    os._exit(0)\n"
        "print(pid, flush=True)\n"
        "time.sleep(60)\n"
    )
    run._become_subreaper()
    proc = subprocess.Popen([sys.executable, "-c", script], stdout=subprocess.PIPE,
                            text=True, start_new_session=True)
    grandchild = int(proc.stdout.readline())
    proc.stdout.close()
    try:
        assert os.path.exists(f"/proc/{grandchild}")
        run._reap(proc)
        assert not os.path.exists(f"/proc/{grandchild}")
        assert run._leftovers(proc.pid) == []
    finally:
        for pid in (grandchild, proc.pid):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
