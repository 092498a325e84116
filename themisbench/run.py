#!/usr/bin/env python3
"""Benchmark entry point.

    python3 themisbench/run.py --workload <ingest|serve>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. It builds every index it reads from the
checkout's own sources, on ``local[nproc]``, and writes only inside the
checkout: scratch data under ``.themisbench_work/`` (removed at exit) and
one run record per run under ``.themisbench_out/`` (metrics, samples, box
state, and in a traced run the spans and self time per layer).

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``, with the end-to-end
metrics when ``--trace 0`` and the per-layer metrics when ``--trace 1``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time
import traceback

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ingest", "serve")


def log(msg: str) -> None:
    print(f"[themisbench {time.perf_counter() - T0:7.2f}s] {msg}",
          file=sys.stderr, flush=True)


def box_state() -> dict:
    """Same-process compute and membound calibration (the kernels of
    bench_scaling.hw_calibration, one process), so drift between runs can
    be told apart from a change in the code."""
    sys.path.insert(0, ROOT)
    from bench_scaling import _calib_compute, _calib_membound

    out = {}
    for name, fn in (("compute_s", _calib_compute), ("membound_s", _calib_membound)):
        t0 = time.perf_counter()
        fn(0)
        out[name] = round(time.perf_counter() - t0, 4)
    return out


def cpu_ticks() -> list[int] | None:
    """Aggregate CPU tick counters from /proc/stat (user ... steal), or
    None where there is no /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:9]]
    except OSError:
        return None


def steal_share(t0: list[int] | None, t1: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor took from this machine between two
    readings: work slows by about this much for reasons outside the code."""
    if not t0 or not t1:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return round(d[7] / max(sum(d), 1), 4)


def start_spark(work: str, nproc: int):
    from themis_search_engine_spark.session import get_spark

    jvm_tmp = f"{work}/jvm-tmp"
    os.makedirs(jvm_tmp)
    spark = get_spark(
        "themisbench", master=f"local[{nproc}]", shuffle_partitions=2 * nproc,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": f"{work}/spark-local",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={jvm_tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait for its JVM (and so its Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(f"{ROOT}/themis_search_engine_spark/__init__.py"):
        log(f"no themis_search_engine_spark package under {ROOT}: "
            "run from the root of a full checkout")
        return 2
    with open(f"{ROOT}/BENCHMARK.json") as fh:
        spec = json.load(fh)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}

    nproc = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = f"{ROOT}/.themisbench_work/{tag}-{os.getpid()}"
    out_dir = f"{ROOT}/.themisbench_out"
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    os.makedirs(out_dir, exist_ok=True)
    # keep every temp file (Python, Spark, JVM) inside the checkout
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    sys.path[:0] = [ROOT, HERE]

    from spans import Tracer
    from workloads import WORKLOADS, Run

    ticks = cpu_ticks()
    spark = start_spark(work, nproc)
    log(f"spark up on local[{nproc}]")
    run = Run(spark, work, Tracer(bool(args.trace), spark.sparkContext),
              args.seed, args.seconds, log)
    crashed = None
    try:
        WORKLOADS[args.workload](run)
    except Exception:
        crashed = traceback.format_exc()
        log(crashed)
        run.op(False)
    finally:
        rss_mb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        steal = steal_share(ticks, cpu_ticks())
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        log("spark stopped")
    run.e2e["driver_peak_rss_mb"] = rss_mb

    if args.trace:
        for name, v in run.e2e.items():
            run.layer[f"traced.{name}"] = v
    metrics = run.layer if args.trace else run.e2e
    wanted = {m["name"] for m in spec["per_layer" if args.trace else "end_to_end"]}
    if crashed is None and wanted != set(metrics):
        log(f"metrics missing: {sorted(wanted - set(metrics))}, "
            f"not in BENCHMARK.json: {sorted(set(metrics) - wanted)}")
        return 1
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace,
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed, "crash": crashed,
        "end_to_end": run.e2e, "per_layer": run.layer,
        "box": {"nproc": nproc, "master": f"local[{nproc}]",
                "cpu_steal_share": steal, **box_state()},
        **run.record,
    }
    if args.trace:
        record["self_time_s"] = run.tracer.self_times()
        record["spans"] = run.tracer.spans
    path = f"{out_dir}/{tag}.json"
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    log(f"run record: {path}")
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())
        },
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
