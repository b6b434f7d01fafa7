"""autolake benchmark: one workload per run, printed as one JSON line.

    python3 perfbench/run.py --workload api_cars --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --smoke

The parent process validates the arguments, makes a private work
directory under ``.perfbench_work/`` in the checkout, and runs the
workload in a child process of its own session (a fresh Python, JVM and
worker pool per run). When the child ends, every process left in its
session is killed and waited for, and the work directory is removed. The
last line of standard output is the result object
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 1`` the
span dump is written to ``.perfbench_out/``.

``--smoke`` runs every workload once at a tiny size with all correctness
checks and exits non-zero if any of them fails.
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
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOAD_NAMES = [w["name"] for w in SPEC["workloads"]]
CHILD_TIMEOUT_S = 170
CORES = min(4, os.cpu_count() or 4)


def parse(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=float(SPEC["run_seconds"]))
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--child", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if not args.smoke and not args.workload:
        ap.error("--workload is required unless --smoke is given")
    return args


def child_main(args) -> int:
    """Runs inside the child process; writes the result to ``args.child``."""
    sys.path.insert(0, ROOT)
    from perfbench import env

    work = os.path.dirname(args.child)
    env.prepare_process(work, CORES)
    env.redirect_stores(work)
    spark, start_s, warmup_s = env.start_session(
        work, python_workers=args.workload != "api_cars"
    )
    from perfbench import workloads

    ctx = workloads.Context(spark, work, args.seed, args.seconds, args.smoke, bool(args.trace))
    code = 1
    try:
        result, details = workloads.run(args.workload, ctx, start_s, warmup_s)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            details.pop("tracer").dump(
                os.path.join(out_dir, f"trace_{args.workload}_s{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "result": result, **details},
            )
        with open(args.child + ".tmp", "w") as fh:
            json.dump({"result": result, "details": details}, fh)
        os.rename(args.child + ".tmp", args.child)
        code = 0
    except Exception:  # noqa: BLE001 - reported, then the run fails
        traceback.print_exc()
    finally:
        # no orderly spark.stop(): the parent kills the whole session,
        # JVM and Python workers included, and deletes the work directory
        sys.stdout.flush()
        sys.stderr.flush()
        os._exit(code)


def _become_subreaper() -> None:
    """Make orphaned descendants re-parent to this process instead of
    init, so a process that left the child's session (a ``setsid`` call)
    can still be found, killed and reaped here."""
    try:
        import ctypes

        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(36, 1, 0, 0, 0)  # PR_SET_CHILD_SUBREAPER
    except (OSError, AttributeError):
        pass


def _leftovers(sid: int) -> list[int]:
    """Processes of session ``sid`` or descended from this process,
    zombies included: a killed JVM stays a zombie until its last thread
    has exited, and only then can it be reaped.

    Session, not process group: PySpark's Python worker daemon moves
    itself into a process group of its own (``os.setpgid(0, 0)``), so a
    kill of the child's group alone leaves the daemon and its workers
    running."""
    me = os.getpid()
    parent, session = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        parent[pid], session[pid] = int(fields[1]), int(fields[3])

    def ours(pid: int) -> bool:
        seen = set()
        while pid > 1 and pid not in seen:
            if pid == me:
                return True
            seen.add(pid)
            pid = parent.get(pid, 0)
        return False

    return [pid for pid in parent if pid != me and (session[pid] == sid or ours(pid))]


def _reap(proc: subprocess.Popen) -> None:
    """Kill every process the child left behind (the JVM, the Python
    worker daemon and its workers included) and reap each of them here,
    where they were re-parented, until none is left."""
    proc.kill()
    proc.wait()
    deadline = time.time() + 60
    while time.time() < deadline:
        left = _leftovers(proc.pid)
        for pid in left:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
        if not left:
            return
        time.sleep(0.05)
    print(f"processes left after reap: {_leftovers(proc.pid)}", file=sys.stderr)


def run_child(workload: str, seed: int, seconds: float, trace: int, smoke: bool):
    """Run one workload in a fresh process; returns the child's output
    dict, or None when it failed."""
    work = os.path.join(ROOT, ".perfbench_work", f"{workload}-s{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "result.json")
    _become_subreaper()
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
        "--child", out,
    ] + (["--smoke"] if smoke else [])
    proc = subprocess.Popen(cmd, stdout=sys.stderr, cwd=work, start_new_session=True)
    t0 = time.time()
    try:
        proc.wait(timeout=CHILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"{workload}: timed out after {CHILD_TIMEOUT_S} s", file=sys.stderr)
    finally:
        t1 = time.time()
        _reap(proc)
        print(f"{workload}: child {t1 - t0:.1f} s, reap {time.time() - t1:.1f} s", file=sys.stderr)
    try:
        with open(out) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _package_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "automotive_big_data_analysis_spark", "__init__.py")
    ) and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))


def main(argv=None) -> int:
    args = parse(argv)
    if args.child:
        return child_main(args)
    if not _package_present():
        print(f"engine sources not found under {ROOT}", file=sys.stderr)
        return 2
    if args.smoke:
        ok = True
        for name in WORKLOAD_NAMES:
            for trace in (0, 1):
                out = run_child(name, args.seed, 1.0, trace, smoke=True)
                good = out is not None and out["result"]["correct"]
                ok = ok and good
                detail = out["details"] if out else "no result"
                print(json.dumps({"workload": name, "trace": trace, "ok": good,
                                  "result": out and out["result"], "details": detail}))
        return 0 if ok else 1
    out = run_child(args.workload, args.seed, args.seconds, args.trace, smoke=False)
    if out is None:
        print(f"{args.workload}: no result", file=sys.stderr)
        return 1
    details = out["details"]
    for line in details.get("errors", []) + details.get("mismatches", []):
        print(f"{args.workload}: {line}", file=sys.stderr)
    print(f"{args.workload}: phases {details.get('phase_s')}", file=sys.stderr)
    print(f"{args.workload}: op medians {details.get('op_median_s')}", file=sys.stderr)
    result = dict(out["result"])
    declared = SPEC["per_layer"] if args.trace else SPEC["end_to_end"]
    result["metrics"] = {
        m["name"]: {"value": result["metrics"][m["name"]], "unit": m["unit"]}
        for m in declared
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
