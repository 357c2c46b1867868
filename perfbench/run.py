"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --all --seed <n> [--seconds <s>]

Run from the repository root. One workload runs in a fresh child
process (``perfbench/worker.py``) on ``local[<nproc>]``; this parent
samples the resident memory of the child's whole process group (the
Python driver, the Spark JVM and the PySpark workers), waits for every
process the run started, and prints the result as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics. ``--all`` runs every workload untraced and then
traced, prints both tables and the tracing overhead (traced minus
untraced end-to-end numbers), and exits non-zero if any output check
failed.

Exit codes: 0 = all output checks passed; 1 = a check failed or the
run crashed; 2 = the package under test is not in the working
directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from catalog import RESULT_PREFIX, WORKLOADS  # noqa: E402

PACKAGE = "mklab_focused_crawler_spark"
WORK_ROOT = ".perfbench_work"
# every run must end within 180 s; the child is stopped a little before
CHILD_TIMEOUT_S = 170
_PR_SET_CHILD_SUBREAPER = 36


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM outlives its Python parent
    for a moment after the child exits) so they can be waited for."""
    try:
        libc = ctypes.CDLL(None, use_errno=True)
        libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _group_pids(pgid: int) -> list[int]:
    pids = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[2]) == pgid:  # field 5 of stat: process group id
            pids.append(int(name))
    return pids


def _hwm_bytes(pid: int) -> int:
    """The process's own peak resident set (VmHWM), 0 once it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class _RssSampler(threading.Thread):
    """Summed peak RSS of the processes of one process group: each
    process's VmHWM, tracked every ``period`` seconds while it lives.
    Processes seen for under ``min_life_s`` (the spark-submit launcher)
    are left out: whether a sample catches them is chance."""

    def __init__(self, pgid: int, period: float = 0.25, min_life_s: float = 2.0):
        super().__init__(name="rss-sampler", daemon=True)
        self.pgid = pgid
        self.period = period
        self.min_life_s = min_life_s
        self.hwm: dict[int, int] = {}
        self.seen: dict[int, tuple[float, float]] = {}
        self._stop_evt = threading.Event()

    def _sample(self) -> None:
        now = time.monotonic()
        for pid in _group_pids(self.pgid):
            self.hwm[pid] = max(self.hwm.get(pid, 0), _hwm_bytes(pid))
            self.seen[pid] = (self.seen.get(pid, (now, now))[0], now)

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self._sample()
            self._stop_evt.wait(self.period)

    def stop(self) -> int:
        self._stop_evt.set()
        self.join()
        return sum(
            h for pid, h in self.hwm.items()
            if self.seen[pid][1] - self.seen[pid][0] >= self.min_life_s
        )


def _kill_group(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass


def _reap_group(pgid: int, grace_s: float = 20.0) -> None:
    """Wait for every process of the run's group; stop what lingers."""
    deadline = time.monotonic() + grace_s
    sent_term = sent_kill = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = _group_pids(pgid)
        if not left:
            return
        now = time.monotonic()
        if now > deadline and not sent_kill:
            _kill_group(pgid, signal.SIGKILL)
            sent_kill = True
        elif now > deadline - grace_s / 2 and not sent_term:
            _kill_group(pgid, signal.SIGTERM)
            sent_term = True
        elif sent_kill and now > deadline + 10:
            return
        time.sleep(0.1)


def run_one(workload: str, seed: int, seconds: int, trace: bool) -> dict | None:
    """Run one workload in a fresh process; return its result, or None
    if it crashed."""
    work = os.path.join(WORK_ROOT, f"{workload}-{os.getpid()}-{int(trace)}")
    cmd = [
        sys.executable,
        os.path.join(HERE, "worker.py"),
        "--workload", workload,
        "--seed", str(seed),
        "--seconds", str(seconds),
        "--trace", str(int(trace)),
        "--workdir", work,
    ]
    t0 = time.perf_counter()
    child = subprocess.Popen(
        cmd, stdout=subprocess.PIPE, text=True, start_new_session=True
    )
    sampler = _RssSampler(child.pid)
    sampler.start()
    result = None
    timer = threading.Timer(CHILD_TIMEOUT_S, _kill_group, (child.pid, signal.SIGKILL))
    timer.start()
    try:
        for line in child.stdout:
            if line.startswith(RESULT_PREFIX):
                result = json.loads(line[len(RESULT_PREFIX):])
            else:
                sys.stdout.write(line)
                sys.stdout.flush()
        rc = child.wait()
    finally:
        timer.cancel()
        peak = sampler.stop()
        _reap_group(child.pid)
        shutil.rmtree(work, ignore_errors=True)
    print(
        f"[perfbench] {workload}: wall {time.perf_counter() - t0:.1f} s",
        file=sys.stderr,
    )
    if rc != 0 or result is None:
        print(f"[perfbench] {workload}: worker exited with code {rc}", file=sys.stderr)
        return None
    print(f"peak_rss_mb = {peak / 2**20:.1f} MB (driver JVM + Python processes)")
    return result


def _print_overhead(untraced: dict, traced: dict) -> None:
    for name in ("units_per_s", "step_p50_s"):
        base = untraced["metrics"][name]["value"]
        with_trace = traced["metrics"][f"trace.{name}"]["value"]
        if not base:
            continue
        print(
            f"  tracing overhead {name}: {with_trace - base:+.4f} "
            f"({(with_trace - base) / base:+.1%} of untraced {base:.4f})"
        )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--all", action="store_true", help="every workload, untraced then traced")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=15)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not args.all and not args.workload:
        p.error("one of --workload or --all is required")
    if not os.path.isdir(PACKAGE):
        print(
            f"[perfbench] no '{PACKAGE}' package in {os.getcwd()}: "
            "run from the repository root",
            file=sys.stderr,
        )
        return 2
    _become_subreaper()

    if not args.all:
        res = run_one(args.workload, args.seed, args.seconds, bool(args.trace))
        if res is None:
            return 1
        print(json.dumps(res))
        return 0 if res["correct"] and res["failed"] == 0 else 1

    ok = True
    for name in sorted(WORKLOADS):
        print(f"=== {name} (seed {args.seed}) ===", flush=True)
        plain = run_one(name, args.seed, args.seconds, trace=False)
        traced = run_one(name, args.seed, args.seconds, trace=True)
        if plain is None or traced is None:
            ok = False
            continue
        ok &= plain["correct"] and traced["correct"]
        print(json.dumps({"workload": name, "trace": 0, **plain}))
        print(json.dumps({"workload": name, "trace": 1, **traced}))
        _print_overhead(plain, traced)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
