"""CDC-engine benchmark: three closed-loop workloads, checked in the loop.

Usage (from the repository root):

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

One Python process drives the engine through its public API on
``local[nproc]``.  The seed makes every input; the program sees only the
files written under ``.perfbench_runs/`` in the working directory, which the
run deletes when it ends.  The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; with ``--trace 0`` the
metrics are the end-to-end ones, with ``--trace 1`` the per-layer ones.  The
line before it holds the details (sample counts, percentiles).  See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

WORKLOADS = ("cdc_trickle", "olap_queries")

END_TO_END = {
    "setup_s": "s",
    "success_frac": "ratio",
    "throughput_per_s": "1/s",
    "throughput_per_cpu_s": "1/cpu_s",
    "step_p50_ms": "ms",
}


class Bench:
    """One run: the session, the op ledger and the measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, run_dir: str,
                 wrong_expectation: bool = False):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.run_dir = run_dir
        self.wrong = wrong_expectation
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.details: dict = {"workload": workload, "seed": seed}
        self.spark = None
        self.window = None
        self.t0 = time.perf_counter()

    def log(self, msg: str) -> None:
        print(f"[perfbench {time.perf_counter() - self.t0:7.1f}s] {msg}", file=sys.stderr, flush=True)

    # -- op ledger -------------------------------------------------------------
    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED: {what}", file=sys.stderr, flush=True)
        return ok

    def op(self, what: str, fn, *args):
        """Run one op; an exception is a failed op, not an aborted run."""
        try:
            return fn(*args)
        except Exception:
            self.check(False, f"{what} raised:\n{traceback.format_exc()}")
            return None

    # -- session -----------------------------------------------------------------
    def start_session(self) -> None:
        from mysql_cdc_debezium_starrocks_spark.session import get_spark

        from probe import SparkWindow

        t0 = time.perf_counter()
        self.spark = get_spark(
            f"perfbench-{self.workload}",
            extra_conf={
                "spark.ui.showConsoleProgress": "false",
                # keep the JVM's temp files (and no perf-data file) out of
                # /tmp; keep the JIT compiler threads alive, so /proc shows
                # all the CPU they use
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData"
                " -XX:-UseDynamicNumberOfCompilerThreads",
                # the traced run attributes jobs, stages and executions by id;
                # keep every one of a run
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.sql.ui.retainedExecutions": "100000",
            },
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.session_s = time.perf_counter() - t0
        self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle.current().pid())
        self.gateway = self.spark.sparkContext._gateway
        self.gateway_proc = getattr(self.gateway, "proc", None)
        self.window = SparkWindow(self.spark)
        self.layer["session.start_s"] = self.session_s

    def stop_session(self) -> None:
        if self.spark is None:
            return
        for q in self.spark.streams.active:
            q.stop()
        self.spark.stop()
        self.gateway.shutdown()
        proc = self.gateway_proc
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    @property
    def tmp(self) -> str:
        return os.path.join(self.run_dir, "tmp")

    def cpu_s(self) -> float:
        from probe import tree_cpu_s

        return tree_cpu_s(os.getpid())

    def clock(self) -> tuple[float, ...]:
        """(wall, CPU of this process tree, host steal, JVM JIT CPU) in
        seconds."""
        from probe import host_steal_s, jit_cpu_s

        return time.perf_counter(), self.cpu_s(), host_steal_s(), jit_cpu_s(self.jvm_pid)

    def since(self, start: tuple[float, ...]) -> dict:
        now = self.clock()
        return {k: b - a for k, a, b in zip(("wall", "cpu", "steal", "jit"), start, now)}

    def fresh(self, *parts: str) -> str:
        d = os.path.join(self.run_dir, *parts)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # self-test hook: corrupt one expectation per check; success_frac must drop
    ap.add_argument("--wrong-expectation", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)

    root = os.getcwd()
    sys.path.insert(0, root)
    try:  # the engine must be importable from the checkout, or no result
        import mysql_cdc_debezium_starrocks_spark  # noqa: F401
        import __spark_entry__  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: engine package not importable from {root}: {ex}", file=sys.stderr)
        return 2

    import workloads

    run_dir = os.path.join(root, ".perfbench_runs", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), run_dir,
                  args.wrong_expectation)
    os.makedirs(bench.tmp)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update(
        SPARK_GRAFT_CPUS=cpus,
        # a fixed heap that fits a small host; the engine default is 16g
        SPARK_DRIVER_MEMORY="3g",
        SPARK_LOCAL_DIRS=bench.tmp,
        TMPDIR=bench.tmp,
    )
    bench.details["cpus"] = int(cpus)
    try:
        bench.start_session()
        bench.log("session started")
        getattr(workloads, args.workload)(bench)
        bench.log("workload done")
        from probe import peak_rss_mb

        bench.layer["session.jvm_peak_rss_mb"] = peak_rss_mb(bench.jvm_pid)
    finally:
        bench.stop_session()
        shutil.rmtree(run_dir, ignore_errors=True)
        bench.log("session stopped")
        try:
            os.rmdir(os.path.dirname(run_dir))
        except OSError:
            pass

    if args.trace:
        metrics = {
            n: {"value": float(bench.layer.get(n, 0.0)), "unit": u}
            for n, u in workloads.PER_LAYER.items()
        }
    else:
        bench.e2e["success_frac"] = (bench.attempted - bench.failed) / max(1, bench.attempted)
        metrics = {n: {"value": float(bench.e2e[n]), "unit": u} for n, u in END_TO_END.items()}
    print(json.dumps({"details": bench.details}, default=str))
    print(
        json.dumps(
            {
                "correct": bench.failed == 0,
                "attempted": bench.attempted,
                "failed": bench.failed,
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
