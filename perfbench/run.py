"""Benchmark runner for the spark-graft engine.

    python3 perfbench/run.py --workload daily_etl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1      # every workload, untraced and traced

Run from the repository root. One run starts one Spark driver process on
``local[nproc]``, generates its inputs from ``--seed`` inside a private
work directory under ``.perfbench/``, sets the session up, runs the
workload's untimed warm-up passes, then times whole passes over its
operations until ``--seconds`` have passed (``daily_etl``: one day,
which takes longer than that). The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}`` with the
end-to-end metrics (``--trace 0``) or the per-layer metrics
(``--trace 1``). Every run also appends a full record (environment,
per-operation times, metrics) to ``.perfbench/results.jsonl``; a traced
run writes its spans to ``.perfbench/trace-<workload>-seed<seed>.json``.

The package is imported and called from outside; no program code is
changed. Workloads and metric definitions: ``workloads.py`` and
``layers.py``; compare two result files with ``compare.py``.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
import spans  # noqa: E402

WORKLOADS = ("daily_etl", "catalog_stream")
DRIVER_MEM = "4g"  # fits a 15 GiB, 4-core machine; the package default is 32g


def launch_env(work: str) -> dict[str, str]:
    """Point every scratch location of the Spark driver, the JVM and the
    Python workers into ``work`` and size the session to nproc. Applied
    before the JVM starts; returned for the run record."""
    tmp, local = os.path.join(work, "tmp"), os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    env = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),  # what nproc reports
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": local,
        # the status store must keep every job of a pass for the traced run
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--driver-java-options", shlex.quote(java_opts),
            "--conf", "spark.ui.retainedJobs=20000",
            "--conf", "spark.ui.retainedStages=40000",
            "--conf", "spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ]),
    }
    os.environ.update(env)
    tempfile.tempdir = None  # re-read TMPDIR
    os.chdir(work)  # derby.log and friends land here
    return env


def start_session(work: str):
    """The package's own session factory, with the SQL warehouse dir
    redirected into the work directory."""
    from pyspark.sql import SparkSession

    from etl_fraud_detection_spark.session import get_spark

    orig = SparkSession.Builder.getOrCreate

    def get_or_create(builder):
        builder._options["spark.sql.warehouse.dir"] = os.path.join(work, "spark-warehouse")
        return orig(builder)

    SparkSession.Builder.getOrCreate = get_or_create
    try:
        spark = get_spark("perfbench")
    finally:
        SparkSession.Builder.getOrCreate = orig
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def run_one(args) -> dict:
    t_start = time.perf_counter()
    import workloads  # imports the package

    os.makedirs(os.path.join(OUT, "work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(OUT, "work"))
    env = launch_env(work)
    spark = None
    try:
        spark = start_session(work)
        wl = workloads.make(args.workload, spark, work, args.seed, trace=bool(args.trace),
                            record_goldens=args.record_goldens)
        wl.setup()
        for _ in range(wl.warmup_passes):
            wl.run_pass(warmup=True)
        if args.trace:
            wl.start_tracing()
        setup_s = time.perf_counter() - t_start
        passes, t0 = [], time.perf_counter()
        n = wl.measured_passes
        while not passes or (len(passes) < n if n else time.perf_counter() - t0 < args.seconds):
            passes.append(wl.run_pass())
        rss = spans.process_tree_peak_rss_mb(os.getpid())
        wl.finish()
        ops = [o for p in wl.all_passes for o in p["ops"]] + wl.extra_ops
        failed = [o for o in ops if not o["ok"]]
        measured = [o["seconds"] for p in passes for o in p["ops"]]
        pass_s = median([p["seconds"] for p in passes])
        e2e = {
            "pass_s": pass_s,
            "op_p50_s": median(measured),
            "rows_per_s": median([p["rows"] / p["rows_s"] for p in passes]),
            "setup_s": setup_s,
        }
        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "env": env, "passes": len(passes),
            "attempted": len(ops), "failed": len(failed),
            "failures": [{k: o[k] for k in ("name", "error")} for o in failed],
            "end_to_end": e2e, "peak_rss_mb": rss, "ops": ops,
        }
        if args.trace:
            per_layer = wl.layer_metrics(passes)
            per_layer["driver.peak_rss_mb"] = rss
            record["per_layer"] = per_layer
            path = os.path.join(OUT, f"trace-{args.workload}-seed{args.seed}.json")
            with open(path, "w") as fh:
                json.dump({"per_layer": per_layer, **wl.trace_dump()}, fh, indent=1)
        with open(os.path.join(OUT, "results.jsonl"), "a") as fh:
            fh.write(json.dumps(record) + "\n")
        return record
    finally:
        os.chdir(ROOT)
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def result_line(record: dict) -> dict:
    if record["trace"]:
        names, values = layers.PER_LAYER, record["per_layer"]
    else:
        names, values = layers.END_TO_END, record["end_to_end"]
    return {
        "correct": record["failed"] == 0,
        "attempted": record["attempted"],
        "failed": record["failed"],
        "metrics": {n: {"value": float(values[n]), "unit": m["unit"]} for n, m in names.items()},
    }


def run_all(args) -> int:
    """Every workload for one seed, untraced then traced, each in its own
    Spark driver process; prints a table and one combined JSON line."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", wl,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            if out.returncode != 0:
                print(f"{wl} trace={trace}: exit {out.returncode}", file=sys.stderr)
                return out.returncode
            res = json.loads(out.stdout.strip().splitlines()[-1])
            combined["correct"] &= res["correct"]
            combined["attempted"] += res["attempted"]
            combined["failed"] += res["failed"]
            print(f"== {wl} (trace={trace}) correct={res['correct']} "
                  f"failed={res['failed']}/{res['attempted']}")
            for name, m in res["metrics"].items():
                print(f"   {name:45s} {m['value']:>14.4f} {m['unit']}")
                combined["metrics"][f"{wl}.{name}"] = m
    print(json.dumps(combined))
    return 0


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--record-goldens", action="store_true",
                   help="store this run's output digests as the goldens")
    args = p.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "etl_fraud_detection_spark")):
        print("perfbench: package etl_fraud_detection_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    try:
        record = run_one(args)
    except Exception:
        traceback.print_exc()
        return 1
    for f in record["failures"]:
        print(f"perfbench: FAILED {f['name']}: {f['error']}", file=sys.stderr)
    print(json.dumps(result_line(record)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
