"""Layered BM25 benchmark of dart_importer_spark — one command.

    python3 perfbench/run.py --workload query_heavy --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The run starts Spark at
``local[<usable cores>]``, makes its inputs from ``--seed``, measures its
workload for ``--seconds``, checks the answers against the BM25 oracle in
``tests/oracle.py``, and prints one JSON object as the last line of standard
output: the ``end_to_end`` metrics of BENCHMARK.json with ``--trace 0``, the
``per_layer`` metrics with ``--trace 1``. Everything else goes to standard
error. Spark and temporary state live in ``.perfbench_tmp/`` under the
checkout and are removed at exit. ``--scale tiny`` runs the same workload on
a tiny corpus (see ``smoke.py``).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def host_ram_bytes() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")


def spark_env(tmp: str) -> dict:
    """Environment and Spark conf that keep every file the run writes under
    ``tmp`` and the driver heap well below host RAM."""
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    heap_gb = max(1, min(2, host_ram_bytes() // (4 << 30)))
    os.environ["SPARK_DRIVER_MEM"] = f"{heap_gb}g"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(tmp, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # the status tracker must still know every job of the run
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None or proc.poll() is None:  # not when the JVM was killed
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:  # still running after a minute: kill it
            proc.kill()
            proc.wait(timeout=30)


def terminate(*_) -> None:
    """SIGTERM: kill the JVM first, so no call into it can hang the exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
    sys.exit(143)


def wanted_metrics(trace: bool) -> dict[str, str]:
    """Name -> unit of the metrics BENCHMARK.json asks for in this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    missing = [p for p in ("dart_importer_spark/__init__.py", "tests/oracle.py")
               if not os.path.isfile(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        return 2

    # standard output carries the result line only: everything else the run
    # or its child processes print goes to standard error
    result_fd = os.dup(1)
    os.dup2(2, 1)
    signal.signal(signal.SIGTERM, terminate)

    sys.path[:0] = [ROOT, HERE]
    from dart_importer_spark.session import get_spark
    from queries import load_oracle_class
    from tracing import PeakMemory
    from workloads import SIZES, WORKLOADS, Bench

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"run-{os.getpid()}")
    os.makedirs(tmp)
    cwd = os.getcwd()
    spark = None
    try:
        conf = spark_env(tmp)
        os.chdir(tmp)
        with PeakMemory() as mem:
            t0 = time.perf_counter()
            cores = len(os.sched_getaffinity(0))
            spark = get_spark("perfbench", cores=cores, extra_conf=conf)
            bench = Bench(spark, tmp, args.seed, args.seconds, bool(args.trace),
                          time.perf_counter() - t0, load_oracle_class(ROOT))
            WORKLOADS[args.workload](bench, SIZES[args.scale][args.workload])
        bench.put("process.peak_pss_mb", mem.peak / 2**20, "MB")
        if args.trace:
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(os.path.join(out, f"spans-{args.workload}-{args.seed}.jsonl"))
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:
            os.chdir(cwd)
            shutil.rmtree(tmp, ignore_errors=True)

    names = wanted_metrics(bool(args.trace))
    absent = [n for n, unit in names.items() if n not in bench.metrics
              or not math.isfinite(bench.metrics[n][0]) or bench.metrics[n][1] != unit]
    if absent:
        print(f"perfbench: metrics missing or in another unit: {absent}", file=sys.stderr)
        return 1
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {
            n: {"value": bench.metrics[n][0], "unit": unit} for n, unit in names.items()
        },
    }
    os.write(result_fd, (json.dumps(result) + "\n").encode())
    return 0


if __name__ == "__main__":
    sys.exit(main())
