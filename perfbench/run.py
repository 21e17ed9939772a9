"""Search-serving and ingest benchmark for hybrid_vector_search_spark.

    python3 perfbench/run.py --workload food_finder --seed 1 --seconds 16 --trace 0

Run from the repository root. Workloads: food_finder, bulk_ingest (see
perfbench/README.md). The last line on stdout is one JSON
object {"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
of BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Everything else (Spark, the engine's log, progress) goes to stderr. A record
of the run with the host fingerprint, load and versions is written to
.perfbench_out/, and with --trace 1 the spans too.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(ROOT), str(HERE)]

from hvsbench import host  # noqa: E402  (needs only the standard library)


def parse_args(argv, workloads: list[str]):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=workloads)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def spark_env(workdir: Path) -> dict[str, str]:
    """What get_spark reads, sized to this host, plus launch options that
    keep Spark's files in the run directory and its progress bar off."""
    tmp = workdir / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    mem_gb = max(1, min(4, int(host.mem_total_gb() // 5)))
    return {
        "SPARK_GRAFT_CPUS": str(host.nproc()),
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gb}g",
        "SPARK_LOCAL_DIRS": str(workdir / "spark-local"),
        "TMPDIR": str(tmp),
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    }


def stop_spark(spark) -> None:
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                pass  # stop_tree kills it
    host.stop_tree()


def main(argv=None) -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    args = parse_args(argv, [w["name"] for w in spec["workloads"]])
    if not (ROOT / "hybrid_vector_search_spark").is_dir():
        print("hybrid_vector_search_spark/ not found next to perfbench/", file=sys.stderr)
        return 2

    # stdout carries only the result: anything else written to fd 1 (this
    # process, the JVM, Python workers) is sent to stderr
    result_fd = os.dup(1)
    os.dup2(2, 1)

    workdir = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    outdir = ROOT / ".perfbench_out"
    outdir.mkdir(exist_ok=True)
    env = spark_env(workdir)
    os.environ.update(env)
    load_before = host.load_snapshot()

    try:
        from hvsbench import workloads
        from hybrid_vector_search_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        get_spark_s = time.perf_counter() - t0
        ctx = workloads.Context(spark, args.seed, args.seconds, bool(args.trace), workdir, host.process_age_s())
        ctx.out.layers["session.get_spark_s"] = get_spark_s
        try:
            w = workloads.WORKLOADS[args.workload]
            if isinstance(w, workloads.Bulk):
                workloads.run_bulk(ctx, w)
            else:
                workloads.run_serving(ctx, w)
        finally:
            stop_spark(spark)
        out = ctx.out
    finally:
        shutil.rmtree(workdir, ignore_errors=True)
    load_after = host.load_snapshot()

    section = "per_layer" if args.trace else "end_to_end"
    values = out.layers if args.trace else out.metrics
    metrics = {}
    for m in spec[section]:
        name = m["name"]
        if name not in values:
            if args.trace:  # a layer this workload does not reach
                values[name] = 0.0
            else:
                raise RuntimeError(f"end-to-end metric {name} was not measured")
        metrics[name] = {"value": float(values[name]), "unit": m["unit"]}
    result = {
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metrics,
    }

    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": host.fingerprint(),
        "spark_env": {k: env[k] for k in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_DRIVER_MEM")},
        "loadavg_before": load_before["loadavg"],
        "loadavg_after": load_after["loadavg"],
        "steal_share": host.steal_share(load_before, load_after),
        "end_to_end": out.metrics,
        "per_layer": out.layers,
        "notes": out.notes,
        "result": result,
    }
    if out.tracer is not None:
        out.tracer.write(outdir / f"{stem}.spans.jsonl")
    (outdir / f"{stem}.json").write_text(json.dumps(record, indent=1, sort_keys=True))
    print(json.dumps(record, sort_keys=True), file=sys.stderr)

    with os.fdopen(result_fd, "w") as f:
        f.write(json.dumps(result) + "\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
