"""Benchmark entry point.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

Run from the repository root. One workload runs per process (its own
JVM, ``local[nproc]``); ``--workload all`` runs every workload untraced
and traced, each in a fresh process, and prints every metric with its
unit plus the tracing overhead. The last stdout line of a single-
workload run is the result object; the full payload (environment,
input fingerprints, per-operation detail and, traced, the spans'
layer split) is written under ``perfbench/_work/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "_work")
CONFIG = os.path.join(ROOT, "BENCHMARK.json")
EXPECTED = os.path.join(HERE, "expected.json")

#: generated rungs: query_mix, etl_incremental
RUNGS = {"small": 0.01, "large": 0.1}
WORKLOAD_NAMES = ("query_mix", "etl_incremental")
DRIVER_HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env() -> None:
    """Keep every file the engine, Spark and the JVM write inside the
    work directory, and size the session to the host."""
    tmp = os.path.join(WORK, "tmp")
    shutil.rmtree(tmp, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "cwd", "results"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    cpus = str(nproc())
    os.environ["SPARK_GRAFT_CPUS"] = cpus
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(WORK, "warehouse")
    # a fixed driver heap (initial = max) keeps peak RSS from tracking
    # heap-resizing decisions instead of the engine's memory use
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}" '
        "--conf spark.ui.showConsoleProgress=false pyspark-shell"
    )
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(os.path.join(WORK, "cwd"))


def ensure_rungs(expected: dict) -> dict[str, str]:
    """Generate missing rungs and refuse to run on inputs whose content
    fingerprint differs from the committed one."""
    from perfbench import datagen

    out = {}
    for name, sf in RUNGS.items():
        path = os.path.join(WORK, "data", f"sf{sf}")
        fp_path = os.path.join(path, "FINGERPRINT.json")
        if not os.path.exists(fp_path):
            datagen.write(sf, path)
        with open(fp_path) as fh:
            fp = json.load(fh)
        want = expected["fingerprints"].get(f"sf{sf}")
        if fp != want:
            raise SystemExit(
                f"input rung sf{sf} differs from the committed fingerprint "
                f"(got {fp}, expected {want}); refusing to run"
            )
        out[name] = path
    return out


def environment(spark, seed: int, expected: dict) -> dict:
    import duckdb
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "defaultParallelism": spark.sparkContext.defaultParallelism,
        "spark": pyspark.__version__,
        "java": spark.sparkContext._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pyarrow": pyarrow.__version__,
        "duckdb": duckdb.__version__,
        "seed": seed,
        "inputs": {f"sf{sf}": expected["fingerprints"][f"sf{sf}"] for sf in RUNGS.values()},
    }


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, "easy_etl_spark")):
        print("perfbench: the engine package easy_etl_spark is not in this checkout",
              file=sys.stderr)
        return 2
    with open(CONFIG) as fh:
        config = json.load(fh)
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    sys.path.insert(0, ROOT)
    prepare_env()
    rungs = ensure_rungs(expected)

    from perfbench.workloads import Runner

    runner = Runner(args.workload, args.seed, args.seconds, bool(args.trace), rungs,
                    expected, WORK, T_PROCESS)
    t_ready = time.perf_counter() - T_PROCESS
    try:
        result = runner.run()
        env = environment(runner.spark, args.seed, expected)
    finally:
        t_stop = time.perf_counter()
        runner.stop()
    result["detail"]["phases"].update(
        inputs_ready_s=t_ready, stop_s=time.perf_counter() - t_stop,
        total_s=time.perf_counter() - T_PROCESS)

    section = "per_layer" if args.trace else "end_to_end"
    metrics = {
        m["name"]: {"value": float(result[section][m["name"]]), "unit": m["unit"]}
        for m in config[section]
    }
    payload = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "environment": env,
        "end_to_end": result["end_to_end"],
        "per_layer": result.get("per_layer"),
        "detail": result["detail"],
        "layers": result.get("layers"),
        "spans": runner.tracer.spans if args.trace else None,
    }
    out_path = os.path.join(
        WORK, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(out_path, "w") as fh:
        json.dump(payload, fh, indent=1, default=str)
    for name, m in metrics.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']}", file=sys.stderr)
    print(f"perfbench payload: {os.path.relpath(out_path, ROOT)}")
    print(json.dumps({
        "correct": runner.failures.failed == 0,
        "attempted": runner.failures.attempted,
        "failed": runner.failures.failed,
        "metrics": metrics,
    }))
    return 0


def run_all(args) -> int:
    """Every workload untraced then traced, each in its own process;
    prints every metric with its unit and the tracing overhead."""
    status = 0
    for wl in WORKLOAD_NAMES:
        walls = {}
        for trace in (0, 1):
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload", wl,
                 "--seed", str(args.seed), "--seconds", str(args.seconds),
                 "--trace", str(trace)],
                cwd=ROOT, capture_output=True, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                print(f"{wl} trace={trace}: failed rc={proc.returncode}\n{proc.stderr[-2000:]}")
                status = 1
                continue
            res = json.loads(lines[-1])
            print(f"== {wl} trace={trace} correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}")
            for name, m in res["metrics"].items():
                print(f"  {name:36s} {m['value']:.6g} {m['unit']}")
            walls[trace] = res["metrics"].get("wall_s" if trace == 0 else "trace.wall_s")
        if len(walls) == 2:
            d = walls[1]["value"] - walls[0]["value"]
            print(f"  tracing overhead (trace.wall_s - wall_s): {d:.4g} s "
                  f"({100 * d / walls[0]['value']:.1f}%)")
    return status


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOAD_NAMES, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # a terminated run still stops its JVM (run_one's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
