#!/usr/bin/env python3
"""Product benchmark for potoos_spark: two workloads over the three
product entry points, run from outside the program in one process.

    python3 perfbench/run.py --workload ts_monitor_stream --seed 1 --seconds 1 --trace 0

Run it from the repository root. It generates the workload's inputs from
``--seed`` under ``.perfbench/``, starts one session with ``get_session``
on ``local[<cores>]``, makes one untimed warm-up call, then makes timed
calls (closed loop, one caller) until ``--seconds`` have passed, checking
every result against the generator's answers. The last line of stdout is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` alternates
plain and traced calls and reports the per-layer metrics; its spans are
written to ``.perfbench/spans/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench")


def launcher_env(work: str) -> None:
    """Everything the Spark launcher and its Python workers need, set
    before the JVM starts (workers inherit the JVM's environment)."""
    cores = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        total_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    # -XX:-UsePerfData: the JVM writes no hsperfdata file under /tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        # applyInPandas workers import potoos_spark by name
        PYTHONPATH=ROOT + (os.pathsep + path if path else ""),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        SPARK_GRAFT_CPUS=str(cores),
        # the inputs are small: a 512m heap, or a quarter of the host's
        # memory if that is less (get_session's default is 16g). A heap
        # the run fills keeps peak RSS steady; with 1g, G1's heap growth
        # made VmHWM spread twice as wide.
        SPARK_GRAFT_DRIVER_MEM=f"{min(512, total_mb // 4)}m",
        SPARK_LOCAL_DIRS=local,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=f"--driver-java-options '{java_opts}' pyspark-shell",
    )


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM (and with it the Python worker
    daemon) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    proc.stdin.close()  # the JVM exits on EOF of its stdin
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait(timeout=60)


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


class Runner:
    """Timed calls of one workload, with failures and checks counted."""

    def __init__(self, workload):
        self.w = workload
        self.attempted = 0
        self.failed = 0

    def run(self, call):
        """One call; returns (seconds, result or None)."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            result = call()
            dt = time.perf_counter() - t0
            errors = self.w.check(result)
        except Exception:
            traceback.print_exc()
            dt, result, errors = time.perf_counter() - t0, None, ["call raised"]
        finally:
            self.w.cleanup()
        if errors:
            self.failed += 1
            print(f"perfbench: check failed: {errors}", file=sys.stderr)
            result = None
        return dt, result


def metric(value, unit):
    return {"value": value, "unit": unit}


def end_to_end(setup_s, walls, batch_ms, rows, jvm_pid):
    wall = statistics.median(walls)
    return {
        "setup_s": metric(setup_s, "s"),
        "wall_s": metric(wall, "s"),
        "rows_per_s": metric(rows / wall, "1/s"),
        "batch_p50_ms": metric(statistics.median(batch_ms), "ms"),
        "peak_rss_mb": metric(peak_rss_mb(jvm_pid), "MB"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "potoos_spark")):
        print(f"perfbench: no potoos_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(OUT_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        launcher_env(work)  # before any import that may use a temp dir
        sys.path[:0] = [ROOT, HERE]
        import layers
        import workloads

        if args.workload not in workloads.WORKLOADS:
            print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
            return 2
        t0 = time.perf_counter()
        inputs = workloads.generate(args.workload, args.seed, work, args.size)
        gen_s = time.perf_counter() - t0

        from potoos_spark import get_session

        t0 = time.perf_counter()
        spark = get_session("perfbench")
        session_s = time.perf_counter() - t0
        try:
            jvm_pid = spark.sparkContext._gateway.proc.pid
            w = workloads.build(args.workload, spark, inputs, work)
            runner = Runner(w)
            t0 = time.perf_counter()
            runner.run(w.warmup)
            setup_s = session_s + (time.perf_counter() - t0)

            if args.trace:
                metrics = layers.traced_run(
                    spark, w, runner, args.seconds, gen_s, session_s,
                    os.path.join(OUT_DIR, "spans", f"{args.workload}-seed{args.seed}.json"),
                )
            else:
                walls, batch_ms = [], []
                t_end = time.perf_counter() + args.seconds
                while True:
                    dt, result = runner.run(w.call)
                    walls.append(dt)
                    if result is not None:
                        batch_ms += w.batch_ms(result, dt)
                    if time.perf_counter() >= t_end:
                        break
                metrics = end_to_end(
                    setup_s, walls, batch_ms or [0.0], w.rows, jvm_pid
                )
        finally:
            stop_spark(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    print(
        json.dumps(
            {
                "correct": runner.failed == 0,
                "attempted": runner.attempted,
                "failed": runner.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
