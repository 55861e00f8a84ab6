"""Benchmark entry point.

    python3 perfbench/run.py --workload listener --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
``--seed``, starts a Spark session sized for this machine, runs one untimed
warm pass, measures for ``--seconds``, checks every output, and prints one
JSON object as the last line of standard output: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1`` (spans are then
written to ``.perfbench/traces/``). Everything the run writes lives under
``.perfbench/`` in the checkout and its scratch part is removed on exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# name -> (unit, direction); must match BENCHMARK.json's end_to_end list.
END_TO_END = {
    "setup_s": "s",
    "work_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
}


def layer_unit(name: str) -> str:
    """Unit of a per-layer metric, from its name."""
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if "ms" in name.replace(".", "_").split("_"):
        return "ms"
    if name.endswith(("rows_per_poll", "rows_written")):
        return "rows"
    if name.endswith("_pct"):
        return "%"
    if name.endswith(("_ratio", "_selectivity")):
        return "ratio"
    return "count"


def machine_sizing() -> tuple[int, str]:
    """(Spark task slots, driver heap well under physical RAM).

    Spark gets half the cores this process may use. The other half runs
    what each task slot keeps busy besides itself: the Python worker of a
    feed-source or Arrow-kernel task, the JVM's compiler and GC threads, and
    this driver process. With a slot per core the run measured contention
    for the cores: on a 4-core box, 4 slots ran the batch mix no faster than
    2 and varied more from run to run.
    """
    cpus = max(1, len(os.sched_getaffinity(0)) // 2)
    with open("/proc/meminfo") as f:
        total_kib = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    heap_gib = max(1, min(4, total_kib // 2**20 // 6))
    return cpus, f"{heap_gib}g"


def configure_env(tmp: str, cpus: int, heap: str) -> None:
    """Environment the Spark JVM and its Python workers inherit.

    The repo root goes on the workers' path: the feed source and the Arrow
    kernels are unpickled there by module name. Every temp dir points into
    the run's scratch dir so the run writes only inside the checkout.
    """
    for d in ("spark-local", "tmp", "jvm"):
        os.makedirs(os.path.join(tmp, d))
    jvm_opts = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}/jvm"
    os.environ.update(
        {
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "SPARK_GRAFT_CPUS": str(cpus),
            "SPARK_GRAFT_DRIVER_MEM": heap,
            "SPARK_LOCAL_DIRS": f"{tmp}/spark-local",
            "TMPDIR": f"{tmp}/tmp",
            "SPARK_LAUNCHER_OPTS": jvm_opts,
            "PYSPARK_SUBMIT_ARGS": f'--driver-java-options "{jvm_opts}" pyspark-shell',
        }
    )


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its workers) to exit."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    # Fails here, before any output, when the program is not in the checkout.
    import workloads
    from spans import Tracer
    from token_burn_listener_spark import scratch
    from token_burn_listener_spark.registry import load_all_modules
    from token_burn_listener_spark.session import get_spark

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}")
    tmp = os.path.join(WORK, f"run-{os.getpid()}")
    cpus, heap = machine_sizing()
    configure_env(tmp, cpus, heap)
    scratch.SCRATCH_ROOT = os.path.join(tmp, "scratch")
    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        t0 = time.monotonic()
        spark = get_spark("perfbench")
        session_s = time.monotonic() - t0
        spark.sparkContext.setLogLevel("ERROR")
        load_all_modules()
        run = workloads.Run(spark, tmp, args.seed, args.seconds, tracer)
        run.setup["session.start_s"] = session_s
        result = workloads.WORKLOADS[args.workload](run)
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    setup_s = sum(run.setup.values())
    e2e = dict(result.end_to_end, setup_s=setup_s)
    print(
        f"# workload={args.workload} seed={args.seed} seconds={args.seconds:g}"
        f" cpus={cpus} driver_mem={heap} trace={args.trace}"
    )
    print(
        "# end_to_end "
        + " ".join(f"{k}={e2e[k]:.6g}{END_TO_END[k]}" for k in END_TO_END)
    )
    print(
        "# setup "
        + " ".join(f"{k}={v:.4g}s" for k, v in run.setup.items())
        + " | "
        + " ".join(f"{k}={v:.6g}" if isinstance(v, float) else f"{k}={v}"
                   for k, v in result.notes.items())
    )
    print(
        f"# ops_failed_ratio={result.failed / result.attempted:.6g}"
        f" ({result.failed} failed of {result.attempted} attempted)"
    )
    if args.trace:
        layer = dict(run.setup, **result.per_layer)
        metrics = {
            name: {"value": layer.get(name, 0), "unit": layer_unit(name)}
            for name in workloads.per_layer_names()
        }
        path = os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.jsonl")
        tracer.write(path)
        print(f"# spans written to {os.path.relpath(path, ROOT)}")
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
