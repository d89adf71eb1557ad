"""Check that no process started by the benchmark outlives it.

    python3 perfbench/hygiene_check.py        # from the checkout root, ~3 min

Three exits are exercised, each with a live Spark session (JVM,
pyspark.daemon and Python workers) at the moment of exit:

  normal     a real run.py invocation of a workload, to completion;
  exception  a workload that raises after its session is up;
  timeout    a workload that hangs after its session is up, killed by
             the supervisor's hard timeout.

After each, no java, pyspark.daemon or workloads.py process and no
listening TCP socket may exist that did not exist before. Exits 0 when
all three pass.
"""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402

# A workload whose body is replaced after the session is started.
FAULTY = """
import sys, time
sys.path.insert(0, {here!r})
import workloads

def body(self):
    self.start_session()
    self.spark.range(8, numPartitions=4).mapInPandas(lambda it: it, "id long").count()
    print("SESSION UP", flush=True)
    if {mode!r} == "exception":
        raise RuntimeError("injected failure")
    time.sleep(3600)

workloads.Run.ingest_delta = body
sys.exit(workloads.main(sys.argv[1:]))
"""


def watched() -> set[tuple[int, str]]:
    """(pid, what) of live benchmark-relevant processes."""
    out = set()
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
            with open(f"/proc/{name}/stat") as f:
                state = f.read().rsplit(")", 1)[1].split()[0]
        except OSError:
            continue
        if state == "Z":
            continue
        for what in ("java", "pyspark.daemon", "workloads.py"):
            if what in cmd:
                out.add((int(name), what))
    return out


def listeners() -> set[str]:
    out = set()
    for table in ("/proc/net/tcp", "/proc/net/tcp6"):
        try:
            with open(table) as f:
                rows = f.readlines()[1:]
        except OSError:
            continue
        out.update(r.split()[1] for r in rows if r.split()[3] == "0A")
    return out


def survivors(before_p, before_l) -> list:
    # the kernel may need a moment to reap what was just killed
    for _ in range(50):
        left = sorted(watched() - before_p) + sorted(listeners() - before_l)
        if not left:
            return []
        time.sleep(0.1)
    return left


def case_normal() -> str | None:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "ingest_delta", "--seed", "1", "--seconds", "1", "--trace", "0"],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        timeout=run.CHILD_TIMEOUT_S + 60,
    )
    if p.returncode != 0:
        return f"run.py exited {p.returncode}"
    return None


def case_faulty(mode: str) -> str | None:
    os.makedirs(run.WORK_ROOT, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=run.WORK_ROOT) as work:
        argv = [sys.executable, "-c", FAULTY.format(here=HERE, mode=mode),
                "ingest_delta", "1", "1", "0", os.path.abspath(work)]
        t0 = time.monotonic()
        timeout = 60.0 if mode == "timeout" else run.CHILD_TIMEOUT_S
        log_path = os.path.join(work, "child.log")
        with open(log_path, "w") as log:
            code, _ = run.supervise(argv, timeout, log)
        took = time.monotonic() - t0
        with open(log_path) as f:
            up = "SESSION UP" in f.read()
    try:
        os.rmdir(run.WORK_ROOT)
    except OSError:
        pass
    if not up:
        return f"the session never came up (exit {code})"
    if mode == "exception" and code in (0, None):
        return f"expected a failing exit, got {code}"
    if mode == "timeout" and (code is not None or took > timeout + 30):
        return f"expected a timeout, got exit {code} after {took:.0f}s"
    return None


def main() -> int:
    if not os.path.isfile(os.path.join("data_prepper_spark", "__init__.py")):
        print("run from the root of a checkout of the engine", file=sys.stderr)
        return 2
    failed = 0
    for name, case in (("normal", case_normal),
                       ("exception", lambda: case_faulty("exception")),
                       ("timeout", lambda: case_faulty("timeout"))):
        before_p, before_l = watched(), listeners()
        try:
            err = case()
        except Exception as e:  # a clean-up failure is this check's finding
            err = repr(e)
        left = survivors(before_p, before_l)
        if left:
            err = (err + "; " if err else "") + f"survivors: {left}"
        print(f"{name:<10} {'FAIL ' + err if err else 'ok'}", flush=True)
        failed += err is not None
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
