"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The run generates its inputs from
``--seed``, sets the workload up (timing the set-up), runs operations
for ``--seconds``, checks every output against what the generator
planted, and prints one JSON object as its last stdout line. With
``--trace 0`` it reports the end-to-end metrics; with ``--trace 1`` the
per-layer metrics, read from Spark's status store around each public
call, and writes the run's spans to ``.perfbench/traces/``. Everything
the run writes lives under ``.perfbench/`` in the working directory; the
per-run warehouse, checkpoints and Spark local dir are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import harness  # noqa: E402
from perfbench.trace import Tracer  # noqa: E402

WORKLOADS = ("medallion_refresh", "stream_index_steady")


def _workload(name: str, ctx):
    if name == "medallion_refresh":
        from perfbench.medallion import Medallion
        return Medallion(ctx)
    from perfbench.stream import StreamIndex
    return StreamIndex(ctx)


def _layer_units() -> dict[str, str]:
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # fail before any work when the engine is not in the working tree
    import rds_to_snowflake_etl_a_lakehouse_pipeline_spark  # noqa: F401

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda signum, _: sys.exit(128 + signum))
    root = os.path.abspath(os.path.join(".perfbench", f"run-{os.getpid()}-{time.time_ns()}"))
    os.makedirs(root)
    env = harness.pin_environment(root)
    layer_units = _layer_units() if args.trace else {}
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with harness.MemSampler() as mem:
            t0 = time.perf_counter()
            with tracer.span("session.get_spark"):
                from rds_to_snowflake_etl_a_lakehouse_pipeline_spark.session import get_spark

                spark = get_spark(f"perfbench-{args.workload}", extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(root, "warehouse"),
                    "spark.local.dir": os.path.join(root, "local"),
                    # the JVM's temp files (native libraries it unpacks)
                    # go to the run directory
                    "spark.driver.extraJavaOptions": f'-Djava.io.tmpdir="{env["tmp"]}"',
                    "spark.ui.showConsoleProgress": "false",
                })
            session_s = time.perf_counter() - t0
            from perfbench.collector import StatusStore
            from perfbench.recorder import BatchRecorder

            store = StatusStore(spark) if args.trace else None
            ctx = harness.Context(spark=spark, root=root, seed=args.seed, tracer=tracer,
                                  store=store)
            ctx.recorder = BatchRecorder(spark)
            w = _workload(args.workload, ctx)
            t1 = time.perf_counter()
            with tracer.span("setup"):
                w.setup()
            setup_s = session_s + time.perf_counter() - t1

            def tracing_s() -> float:
                return tracer.spent_s + (store.spent_s if store else 0.0)

            tracing_before = tracing_s()
            w.run(args.seconds)
            tracing_timed_s = tracing_s() - tracing_before
            layer = w.layer_metrics() if args.trace else {}
        checks_ok = ctx.failed == 0 and ctx.attempted > 0
        ops = ctx.ops_ms
        tail_ms, tail_label = harness.tail(ops) if ops else (0.0, "none")
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(ops) if ops else 0.0, "ms"),
            "op_tail_ms": (tail_ms, "ms"),
            "rows_per_s": (ctx.rows / ctx.timed_s if ctx.timed_s else 0.0, "1/s"),
            "stored_bytes_per_input_byte": (ctx.stored_bytes / max(ctx.input_bytes, 1), "ratio"),
            "peak_pss_mb": (mem.peak_bytes / 2**20, "MB"),
        }
        print(f"env: spark={spark.version} python={platform.python_version()} "
              f"cores={env['cpus']} driver_mem_mb={env['driver_mem_mb']} "
              f"workload={args.workload} seed={args.seed} trace={args.trace}")
        print(f"ops: n={len(ops)} attempted={ctx.attempted} failed={ctx.failed} "
              f"failed_ratio={ctx.failed / max(ctx.attempted, 1):.4f} "
              f"tail={tail_label} session_s={session_s:.3f} timed_s={ctx.timed_s:.3f}")
        print(f"op_ms: {[round(m, 1) for m in ops]}")
        if args.trace:
            layer["session.get_spark_ms"] = session_s * 1000
            # tracing work of the timed phase (status-store brackets and
            # span bookkeeping, all outside the operations' clocks) per
            # operation
            if ops:
                layer["trace.overhead_ms"] = tracing_timed_s * 1000 / len(ops)
            trace_dir = os.path.abspath(os.path.join(".perfbench", "traces"))
            os.makedirs(trace_dir, exist_ok=True)
            trace_path = os.path.join(
                trace_dir, f"{args.workload}-seed{args.seed}-{tracer.run_id}.json")
            tracer.write(trace_path)
            print(f"trace: {trace_path}")
            for name, t in sorted(tracer.self_times().items(), key=lambda kv: -kv[1]["self_ms"]):
                print(f"span {name}: n={t['count']} total_ms={t['total_ms']:.1f} "
                      f"self_ms={t['self_ms']:.1f}")
            metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u}
                       for n, u in layer_units.items()}
            missing = [n for n in layer_units if n not in layer]
            if missing:
                print(f"not exercised by this workload (reported 0): {', '.join(missing)}")
        else:
            metrics = {k: {"value": float(v), "unit": u} for k, (v, u) in e2e.items()}
            for k, (v, u) in e2e.items():
                print(f"metric {k} = {v:.6g} {u}")
        result = {"correct": checks_ok, "attempted": ctx.attempted, "failed": ctx.failed,
                  "metrics": metrics}
        print(json.dumps(result))
        return 0
    finally:
        try:
            if spark is not None:
                jvm = spark.sparkContext._gateway.proc
                try:
                    spark.stop()
                finally:
                    jvm.stdin.close()  # the gateway JVM exits when its stdin closes
                    jvm.wait(timeout=60)
        finally:
            shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
