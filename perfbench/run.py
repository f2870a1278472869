"""Replication-engine benchmark.

Usage (from the repository root):

    python3 perfbench/run.py --workload replicate-backlog --seed 1 \
        --seconds 20 --trace 0

Workloads, metrics and the warm-up policy are described in
``perfbench/DESIGN.md``.  The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: end-to-end metrics
with ``--trace 0``, per-layer metrics with ``--trace 1``.  Everything the
run writes stays in the working directory: ``.bench_work/`` (removed at
exit) and ``.bench_out/`` (span dumps of traced runs).
"""

from __future__ import annotations

import time

_T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".bench_work", str(os.getpid()))
OUT = os.path.join(ROOT, ".bench_out")

# Per workload, the seconds one measured op nominally takes, so that
# ``--seconds`` fixes the op count of a run: ops keep getting faster
# for dozens of ops, so the count must not depend on measured speed.
NOMINAL_OP_S = {"replicate-backlog": 3.4, "analytics-mix": 15.0}
# input generation is repeated and its median charged to setup_s
SETUP_REPEATS = 3
END_TO_END_UNITS = {"setup_s": "s", "op_p50_s": "s", "cpu_s_per_op": "s"}


def _isolate_scratch() -> None:
    """Point every temporary directory the run's processes use (Python,
    the JVM, Spark's local dirs, the SQL warehouse) into the run's own
    work directory; must happen before the JVM starts."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' pyspark-shell"
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(NOMINAL_OP_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind so the session is stopped and the work dir removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    _isolate_scratch()
    sys.path.insert(0, ROOT)
    try:
        result = run(args)
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(WORK))
        except OSError:
            pass  # another run's work dir is still there
    print(json.dumps(result))
    return 0


def run(args) -> dict:
    from aws_kinesis_data_streams_replicator_spark.session import get_spark

    import measure

    n_ops = max(1, round(args.seconds / NOMINAL_OP_S[args.workload]))
    tracer = measure.Tracer(enabled=False)
    spark = get_spark("perfbench")
    try:
        spark.sparkContext.setLogLevel("ERROR")
        spark.sql("SELECT count(*) FROM range(1000)").collect()
        session_s = time.perf_counter() - _T_PROCESS
        if args.workload == "replicate-backlog":
            from backlog import Backlog

            wl = Backlog(spark, tracer)
        else:
            from analytics import Analytics

            wl = Analytics(spark, tracer, ROOT)
        gen_times = []
        for i in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.generate(os.path.join(WORK, f"gen{i}"), args.seed)
            gen_times.append(time.perf_counter() - t0)
        gen_s = statistics.median(gen_times)
        print(
            f"setup: session {session_s:.3f} s, generations {[round(t, 3) for t in gen_times]} s",
            file=sys.stderr,
        )

        attempted = failed = 0
        t0 = time.perf_counter()
        try:
            wl.warm_up()
        except Exception as e:  # noqa: BLE001 — reported as a failed run
            print(f"warm-up check failed: {type(e).__name__}: {e}", file=sys.stderr)
            failed = n_ops
        warmup_s = time.perf_counter() - t0

        if args.trace:
            wl.install_trace()
        plain, times, cpu, op_spans = [], [], [], []
        ticks0 = measure.machine_ticks()
        for i in range(n_ops):
            if args.trace:
                # untraced ops on the same process and inputs: the
                # baseline tracing overhead is measured against.  Order
                # alternates (plain, traced, traced, plain, ...) and ends
                # on a plain op, because ops keep getting faster.
                tracer.enabled = False
                if i % 2 == 0:
                    plain.append(wl.op())
                tracer.enabled = True
            attempted += 1
            sid = tracer.open("bench.op")
            try:
                c0 = measure.tree_cpu_s()
                try:
                    dt = wl.op()
                finally:
                    tracer.close(sid)
                op_cpu = measure.tree_cpu_s() - c0
                wl.check_op()
                times.append(dt)
                cpu.append(op_cpu)
                if args.trace:
                    op_spans.append(sid)
                    wl.collect_trace(sid)
            except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
                failed += 1
                print(f"op failed: {type(e).__name__}: {e}", file=sys.stderr)
            if args.trace and (i % 2 == 1 or i == n_ops - 1):
                tracer.enabled = False
                plain.append(wl.op())
        all_ticks, steal = (b - a for a, b in zip(ticks0, measure.machine_ticks()))
        print(
            f"op times: {[round(t, 3) for t in times]}; hypervisor steal during ops: "
            f"{steal / max(all_ticks, 1):.3f} of machine CPU time",
            file=sys.stderr,
        )
        failed = min(failed, attempted)
        peak_rss = measure.tree_peak_rss_mb()
        if not times:
            raise RuntimeError("every op failed")
        op_p50 = statistics.median(times)

        if not args.trace:
            metrics = {
                "setup_s": session_s + gen_s,
                "op_p50_s": op_p50,
                "cpu_s_per_op": statistics.median(cpu),
            }
            units = END_TO_END_UNITS
        else:
            import layers

            metrics, missing = layers.layer_metrics(
                args.workload,
                wl,
                tracer,
                op_spans,
                {
                    "bench.gen_s": gen_s,
                    "bench.warmup_s": warmup_s,
                    "bench.trace_overhead_s": op_p50 - statistics.median(plain),
                    "session.start_s": session_s,
                    "mem.peak_rss_mb": peak_rss,
                },
            )
            layers.dump_spans(
                tracer, os.path.join(OUT, f"trace_{args.workload}_{args.seed}.json"), missing
            )
            print(json.dumps({"missing": missing}))
            units = layers.LAYER_UNITS
    finally:
        spark.stop()
        _wait_for_jvm()
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def _wait_for_jvm() -> None:
    """End the JVM the session launched and wait for it: PySpark leaves
    it to exit once this process's end closes the pipe to its stdin."""
    import subprocess

    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


if __name__ == "__main__":
    sys.exit(main())
