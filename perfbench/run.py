"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload olap_cold --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Every metric is printed by name with its
unit and sample count; the last stdout line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics`` (the end-to-end
metrics untraced, the per-layer metrics with ``--trace 1``). See
perfbench/README.md for the workloads and what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("olap_cold", "htap_ingest")
HEAP = "1g"  # the driver JVM's heap: fixed in size and touched at start


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def pin_environment() -> None:
    """Re-exec once with the pinned environment: hash seed, UTC, and
    Spark's core count equal to the CPUs this process may use."""
    if os.environ.get("PERFBENCH_PINNED") == "1":
        return
    env = dict(os.environ)
    env.update({
        "PERFBENCH_PINNED": "1",
        "PYTHONHASHSEED": "0",
        "TZ": "UTC",
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_DRIVER_MEMORY": HEAP,
        # no perf-data file under /tmp from spark-submit's launcher JVM
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        # Spark's Python workers import the engine's UDF modules
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
    })
    os.execve(sys.executable, [sys.executable, *sys.argv], env)


class Context:
    """One run's private state: working dir, warehouse, tracer, session."""

    def __init__(self, work: str, tracer):
        self.work = work
        self.warehouse = os.path.join(work, "spark-warehouse")
        self.tracer = tracer
        self.spark = None
        tmp = os.path.join(work, "tmp")
        local = os.path.join(work, "spark-local")
        os.makedirs(tmp)
        os.makedirs(local)
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            "--conf", shlex.quote(f"spark.sql.warehouse.dir={self.warehouse}"),
            # a fixed, pre-touched heap keeps the JVM's resident set from
            # following GC-timed heap growth; no perf-data file in /tmp
            "--conf", shlex.quote("spark.driver.extraJavaOptions="
                                  f"-Djava.io.tmpdir={tmp} -Xms{HEAP} -XX:+AlwaysPreTouch "
                                  "-XX:-UsePerfData"),
            "pyspark-shell",
        ])

    def session(self):
        if self.spark is None:
            import tempfile

            from tiflash_spark.session import get_spark

            tempfile.tempdir = None  # pick up TMPDIR
            self.spark = get_spark("perfbench")
            self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def close(self) -> None:
        """Stop Spark and wait for the JVM and its Python workers to end."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from harness import process_tree

        started = process_tree()[1:]  # the JVM and the workers it forked
        self.spark.stop()
        gw = SparkContext._gateway
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            gw.proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            gw.proc.kill()
            gw.proc.wait()
        alive = _wait_gone(started, timeout=30)
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        _wait_gone(alive, timeout=10)


def _running(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def _wait_gone(pids: list[int], timeout: float) -> list[int]:
    """Wait until none of ``pids`` runs; returns those still running."""
    deadline = time.time() + timeout
    while True:
        alive = [p for p in pids if _running(p)]
        if not alive or time.time() > deadline:
            return alive
        time.sleep(0.1)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "tiflash_spark", "__init__.py")):
        print(f"perfbench: no tiflash_spark package under {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    pin_environment()

    from harness import Tracer, calib_ms, cpu_times, peak_rss_mb, steal_pct
    from report import end_to_end, layer_metrics, print_readout

    host = {"calib_before_ms": calib_ms(), "stat0": cpu_times()}
    tracer = Tracer(enabled=bool(args.trace))
    work = os.path.join(HERE, ".work", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    cwd = os.getcwd()
    ctx = Context(work, tracer)
    try:
        os.chdir(work)
        if args.workload == "olap_cold":
            from olap import run_olap_cold as run
        else:
            from htap import run_htap_ingest as run
        data = run(ctx, args.seed, args.seconds)
        # the client and the JVM; Spark's forked Python workers are left
        # out, their number follows task timing
        rss = {"client": peak_rss_mb([os.getpid()]), "jvm": peak_rss_mb([ctx.jvm_pid()])}
    finally:
        ctx.close()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))  # only when no other run uses it
        except OSError:
            pass
    host["steal_pct"] = steal_pct(host.pop("stat0"), cpu_times())
    host["calib_after_ms"] = calib_ms()

    e2e = end_to_end(args.workload, data, rss["client"] + rss["jvm"])
    layers = layer_metrics(args.workload, data, tracer, host) if args.trace else {}
    print_readout(args, data, e2e, layers, host, rss)
    if args.trace:
        out_dir = os.path.join(HERE, "out")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.to_json(),
                       "ops": [r.__dict__ for r in data.records]}, fh)
    metrics = layers if args.trace else e2e
    failed = sum(not r.ok for r in data.records)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(data.records),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u, _) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
