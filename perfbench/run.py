#!/usr/bin/env python3
"""Cell-store benchmark: one command, seeded inputs, checked answers.

    python3 perfbench/run.py \
        --workload {ingest,cell_query,aoi_traversal,aoi_traversal_templated} \
        --seed N --seconds S --trace {0,1}

Run from the repository root (the directory holding
``ukis_h3cellstore_spark/``). One process, one client thread, closed
loop, against the public API (``Connection``) on a ``local[N]`` Spark
session sized to the machine. Every timed operation is checked against
the independent model in ``oracle.py``; a wrong answer or an exception
counts as a failed operation.

The last line of standard output is one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer metrics (see README.md). The environment, the span trace and
both metric sets are also written to
``.bench_build/perfbench/results/``. Everything the run writes stays
under ``.bench_build/perfbench/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")

#: Spark sizing: all cores up to 4, one client thread, 3 GB Spark driver heap
LOCAL_CORES = max(1, min(4, os.cpu_count() or 1))
DRIVER_MEMORY = "3g"
WORKLOADS = ("ingest", "cell_query", "aoi_traversal", "aoi_traversal_templated")


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file the run (and Spark) writes inside ``work``."""
    if not os.path.isfile(os.path.join(ROOT, "ukis_h3cellstore_spark", "__init__.py")):
        raise SystemExit(
            f"perfbench: no ukis_h3cellstore_spark package in {ROOT}; "
            "run from a full checkout of the repository"
        )
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # spark-submit's launcher JVM: no perf-data file in the system tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)


def start_session(work: str):
    from ukis_h3cellstore_spark import build_session

    tmp = os.path.join(work, "tmp")
    spark = build_session(
        app_name="perfbench",
        local_cores=LOCAL_CORES,
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            # the traced run reads job/stage/task accounting from the
            # status store after the timed loop; keep all of it
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and the Python workers it owns)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the launcher exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def environment(spark, args) -> dict:
    import hashlib
    import platform
    import subprocess

    digest = hashlib.sha256()
    pkg = os.path.join(ROOT, "ukis_h3cellstore_spark")
    for dirpath, dirnames, files in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for name in sorted(files):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as f:
                    digest.update(name.encode() + b"\0" + f.read())
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "nproc": os.cpu_count(),
        "master": spark.sparkContext.master,
        "driver_memory": spark.conf.get("spark.driver.memory"),
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "spark": spark.version,
        "java": spark._jvm.java.lang.System.getProperty("java.version"),
        "python": platform.python_version(),
        "git_commit": commit,
        "package_sha256": digest.hexdigest(),
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    t_begin = time.perf_counter()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)
    # imports after the environment is set (they find the package there)
    import workloads
    from spans import Tracer

    tracer = Tracer()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t0
        bench = workloads.WORKLOAD_CLASSES[args.workload](
            spark, args.seed, os.path.join(work, "wh"), tracer, bool(args.trace)
        )
        setup_s = (t0 - t_begin) + session_s + bench.setup()
        result = bench.run(args.seconds)
        env = environment(spark, args)
        env["setup_s"] = setup_s
        if args.trace:
            metrics = bench.layer_metrics()
        else:
            metrics = dict(result.end_to_end)
            metrics["setup_s"] = (setup_s, "s")
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    summary = {
        "environment": env,
        "attempted": result.attempted,
        "failed": result.failed,
        "error_rate": result.failed / result.attempted,
        "notes": result.notes,
        "operations": bench.ops,
        "metrics": {k: {"value": v, "unit": u} for k, v, u in _flat(metrics)},
    }
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    stem = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    with open(os.path.join(OUT, "results", stem + ".json"), "w") as f:
        json.dump(summary, f, indent=1)
    if args.trace:
        tracer.dump(os.path.join(OUT, "results", stem + ".spans.json"))
    print("environment: " + json.dumps(env))
    print("notes: " + json.dumps(result.notes))
    print(
        json.dumps(
            {
                "correct": result.failed == 0,
                "attempted": result.attempted,
                "failed": result.failed,
                "metrics": summary["metrics"],
            }
        )
    )
    return 0


def _flat(metrics: dict):
    for name in sorted(metrics):
        value, unit = metrics[name]
        yield name, float(value), unit


if __name__ == "__main__":
    sys.exit(main())
