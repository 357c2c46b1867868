"""One benchmark workload in a fresh process (started by run.py).

Prints a human-readable report, then one ``PERFBENCH_RESULT {json}``
line that run.py turns into the benchmark's result line."""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())  # the package under test, at the checkout root

from catalog import E2E_METRICS, PER_LAYER, RESULT_PREFIX, WORKLOADS  # noqa: E402

DRIVER_MEMORY = "3g"


class Run:
    """State one workload shares with the harness: the session, its
    scratch directory, the seed and the measurements taken so far."""

    def __init__(self, name: str, seed: int, seconds: int, trace: bool, workdir: str):
        self.name = name
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.workdir = os.path.abspath(workdir)
        self.nproc = len(os.sched_getaffinity(0))
        self.spark = None
        self.setup_s = 0.0  # set-up after the session start
        self.steps: list[float] = []  # timed unit (super-step/run/batch) seconds
        self.units = 0  # URLs or docs completed in the timed window
        self.window_s: float | None = None  # timed seconds, if not sum(steps)
        self.window_ms = (0.0, 0.0)  # epoch ms, for event-log attribution
        self.window_iterations: set[int] | None = None
        self.attempted = 0
        self.failed = 0
        self.checks: dict[str, bool] = {}
        self.layer: dict[str, float] = {}

    def dir(self, *parts: str) -> str:
        p = os.path.join(self.workdir, *parts)
        os.makedirs(p, exist_ok=True)
        return p

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks[name] = bool(ok)
        print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}".rstrip(), flush=True)

    def note(self, line: str) -> None:
        print(line, flush=True)


def _env_report(run: Run) -> None:
    import pyspark

    mem_kb = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kb = int(line.split()[1])
    java = run.spark.sparkContext._jvm.System.getProperty("java.version")
    print(
        f"env: nproc={run.nproc} mem={mem_kb / 2**20:.1f}GiB spark={pyspark.__version__} "
        f"java={java} python={platform.python_version()} master={run.spark.sparkContext.master}",
        flush=True,
    )


def start_session(run: Run):
    from mklab_focused_crawler_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": run.dir("spark-local"),
        "spark.sql.warehouse.dir": run.dir("warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run.dir('tmp')}",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.trace:
        from sparktrace import event_log_conf

        conf.update(event_log_conf(run.dir("eventlog")))
    return get_spark(f"perfbench-{run.name}", master=f"local[{run.nproc}]", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop the context and wait for the JVM to exit (it exits on EOF
    of its stdin, which the gateway holds)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


_CLK_TCK = os.sysconf("SC_CLK_TCK")
_NCPU = os.cpu_count() or 1


def stolen_s() -> float:
    """CPU time the hypervisor has taken from this VM, per CPU."""
    with open("/proc/stat") as f:
        fields = f.readline().split()  # cpu user nice system idle iowait irq softirq steal
    return int(fields[8]) / _CLK_TCK / _NCPU


def now() -> float:
    """The benchmark's clock: wall seconds minus the time the hypervisor
    ran other guests on this VM's CPUs. On a shared 4-vCPU host steal
    reached 9-22 % of CPU time; on a dedicated machine this equals the
    wall clock."""
    return time.perf_counter() - stolen_s()


def main(argv=None) -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--workdir", required=True)
    a = p.parse_args(argv)

    run = Run(a.workload, a.seed, a.seconds, bool(a.trace), a.workdir)
    os.makedirs(run.workdir, exist_ok=True)
    os.environ["TMPDIR"] = run.dir("tmp")  # PySpark workers and tempfile stay in the checkout
    # no hsperfdata file in /tmp from the launcher JVM or the driver JVM
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + " -XX:-UsePerfData"
    ).strip()
    os.environ["SPARK_GRAFT_CPUS"] = str(run.nproc)

    if a.workload.startswith("crawl"):
        from crawl_workloads import run_crawl as body
    else:
        from corpus_workloads import BODIES

        body = BODIES[a.workload]

    t0, wall0, steal0 = now(), time.perf_counter(), stolen_s()
    run.spark = start_session(run)
    session_s = now() - t0
    run.layer["session.start_s"] = session_s
    _env_report(run)
    try:
        body(run)
    except Exception:  # the run fails as a whole; report it, don't hide it
        traceback.print_exc()
        run.failed += 1
        run.attempted += 1
        run.check("workload_completed", False)
    finally:
        stop_session(run.spark)

    unit, units_name, step_name = WORKLOADS[a.workload]
    wall = time.perf_counter() - wall0
    steal = (stolen_s() - steal0) / wall
    window_s = run.window_s if run.window_s is not None else sum(run.steps)
    e2e = {
        "setup_s": session_s + run.setup_s,
        "units_per_s": run.units / window_s if window_s > 0 else 0.0,
        "step_p50_s": median(run.steps),
    }
    n = len(run.steps)
    n_attempted = max(run.attempted + len(run.checks), 1)
    n_failed = run.failed + sum(not ok for ok in run.checks.values())
    print(
        f"setup_s = {e2e['setup_s']:.3f} s (session {session_s:.3f} + "
        f"set-up {run.setup_s:.3f})\n"
        f"{units_name} = units_per_s = "
        f"{e2e['units_per_s']:.3f} {unit}/s ({run.units} {unit}s in {window_s:.3f} s)\n"
        f"{step_name} = step_p50_s = "
        f"{e2e['step_p50_s']:.3f} s (median of n={n})\n"
        f"error_rate = {n_failed}/{n_attempted} = {n_failed / n_attempted:.3f} fraction "
        "(failed super-steps, runs or batches, and failed output checks)\n"
        f"steal = {steal:.3f} of CPU time over the {wall:.1f} s run (times above exclude it)",
        flush=True,
    )
    correct = bool(run.checks) and all(run.checks.values())
    if run.trace:
        from sparktrace import parse_event_log

        if run.window_ms[1] > run.window_ms[0]:
            run.layer.update(
                parse_event_log(
                    run.dir("eventlog"),
                    run.window_ms,
                    run.nproc,
                    run.window_iterations,
                )
            )
        if run.window_iterations:
            it = max(len(run.window_iterations), 1)
            run.layer["crawl.jobs_per_iter"] = run.layer.get("spark.jobs", 0.0) / it
            run.layer["crawl.tasks_per_iter"] = run.layer.get("spark.tasks", 0.0) / it
        run.layer["trace.units_per_s"] = e2e["units_per_s"]
        run.layer["trace.step_p50_s"] = e2e["step_p50_s"]
        metrics = {
            k: {"value": float(run.layer.get(k, 0.0)), "unit": u}
            for k, (u, _better) in PER_LAYER.items()
        }
        for k, v in metrics.items():
            print(f"  {k} = {v['value']:.6g} {v['unit']}")
    else:
        metrics = {
            k: {"value": float(v), "unit": E2E_METRICS[k]} for k, v in e2e.items()
        }
    result = {
        "correct": correct,
        "attempted": n_attempted,
        "failed": n_failed,
        "metrics": metrics,
    }
    print(RESULT_PREFIX + json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
