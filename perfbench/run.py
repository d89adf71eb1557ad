"""Benchmark command: run one workload and print its metrics.

    python3 perfbench/run.py --workload {build_serve,ingest_delta} \
        --seed N --seconds S --trace {0,1}

Run it from the root of a checkout. The workload runs in a child
process (perfbench/workloads.py) that leads its own session, under a
hard timeout. Whatever happens -- normal exit, an exception in the
workload, a timeout -- every process of that session (the Spark JVM,
pyspark.daemon and its Python workers) is killed and waited for, and
the scratch directory the run owns is deleted.

Named metrics go to stdout one per line; the last line is one JSON
object {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones, with --trace 1 the per-layer
ones. The exit code is non-zero when an answer was wrong ("correct":
false) or the workload did not finish, which prints no result line.
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
WORKLOADS = ("build_serve", "ingest_delta")
CHILD_TIMEOUT_S = 150.0
POLL_S = 0.5
PSS_EVERY_S = 2.0
WORK_ROOT = ".perfbench_work"
TRACE_ROOT = ".perfbench_traces"


def session_pids(sid: int) -> list[int]:
    """Live processes whose session id is `sid` (zombies excluded):
    the child and everything it started, even after re-parenting."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2:].split()
        # fields[0] = state, fields[3] = session id
        if fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def pss_mb(pids: list[int]) -> float:
    """Proportional set size of `pids`: a page shared by n of them
    (forked Python workers share most of theirs) counts 1/n to each."""
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                total += next(int(line.split()[1]) for line in f
                              if line.startswith("Pss:"))
        except (OSError, StopIteration):
            continue
    return total / 1024


def kill_session(sid: int, grace_s: float = 5.0) -> list[int]:
    """SIGTERM, then SIGKILL, every process of session `sid`; wait
    until none is left. Returns the pids still alive (empty on
    success)."""
    for sig, wait in ((signal.SIGTERM, grace_s), (signal.SIGKILL, 10.0)):
        pids = session_pids(sid)
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + wait
        while pids and time.monotonic() < deadline:
            time.sleep(0.05)
            pids = session_pids(sid)
        if not pids:
            return []
    return session_pids(sid)


def supervise(argv: list[str], timeout_s: float, log) -> tuple[int | None, float]:
    """Run argv as the leader of a new session; returns (exit code, or
    None on timeout; peak memory of the session in MB). Every process of
    the session is gone when this returns.

    Reading PSS walks every page table of the session (~50 ms of CPU
    with a live JVM), so it is read every PSS_EVERY_S, not every
    POLL_S: that is 2.5% of one core instead of 10%."""
    proc = subprocess.Popen(
        argv, stdout=log, stderr=log, stdin=subprocess.DEVNULL,
        start_new_session=True,
    )
    peak, next_pss = 0.0, 0.0
    code = None
    try:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            code = proc.poll()
            if code is not None:
                break
            if time.monotonic() >= next_pss:
                peak = max(peak, pss_mb(session_pids(proc.pid)))
                next_pss = time.monotonic() + PSS_EVERY_S
            time.sleep(POLL_S)
    finally:
        left = kill_session(proc.pid)
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            left = left or [proc.pid]
        if left:
            raise RuntimeError(f"processes survived the run: {left}")
    return code, peak


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a SIGTERM to this process still runs the clean-up below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join("data_prepper_spark", "__init__.py")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    work = os.path.abspath(os.path.join(WORK_ROOT, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        argv = [sys.executable, os.path.join(HERE, "workloads.py"),
                args.workload, str(args.seed), str(args.seconds),
                str(args.trace), work]
        code, peak = supervise(argv, CHILD_TIMEOUT_S, sys.stderr)
        result_path = os.path.join(work, "result.json")
        if code != 0 or not os.path.exists(result_path):
            print(f"workload {args.workload} did not finish "
                  f"(exit {code})", file=sys.stderr)
            return 1
        with open(result_path) as f:
            res = json.load(f)
        if args.trace:
            os.makedirs(TRACE_ROOT, exist_ok=True)
            shutil.copy(
                os.path.join(work, "spans.jsonl"),
                os.path.join(TRACE_ROOT,
                             f"{args.workload}-seed{args.seed}.jsonl"),
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(WORK_ROOT)
        except OSError:
            pass

    for name, value, unit, note in res["named"]:
        print(f"{args.workload:<13} {name:<32} {value:>14.4f} {unit:<5} {note}")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if args.trace:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": res["layer"].get(m["name"], 0.0),
                               "unit": m["unit"]} for m in spec["per_layer"]}
    else:
        got = {**res["e2e"], "peak_pss_mb": peak}
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = res["failed"] == 0
    print(json.dumps({
        "correct": correct,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
