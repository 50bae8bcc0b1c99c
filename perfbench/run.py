"""Benchmark entry point.

    python3 perfbench/run.py --workload {analytics,serve_mutate} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the repository. One process, one
closed-loop client, Spark on ``local[<cpus>]``. The last line of
standard output is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with
``--trace 1`` the per-layer ones). A record of the run (environment,
every metric, failures and, when traced, every span) is written to
``.perfbench/runs/``. Everything the run writes stays under
``.perfbench/`` in the checkout and is removed at exit, except the run
records.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import pkgutil
import shutil
import statistics
import sys
import time

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("analytics", "serve_mutate")
E2E_UNITS = {"latency_p50_s": "s", "qps": "1/s", "setup_s": "s", "python_peak_rss_mb": "MB"}


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _environment(work: str) -> None:
    """Pin every scratch location inside the checkout and size Spark to
    this host before pyspark is imported."""
    cpus = _cpus()
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # get_spark defaults to local[32]; size it to the cores we may use
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    for var in ("SPARK_MASTER", "SPARK_ENV_LOADED", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(var, None)
    # every JVM (the launcher too) keeps its temp files in the checkout
    # and writes no hsperfdata file to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            f"--master local[{cpus}]",
            "--conf spark.ui.showConsoleProgress=false",
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "pyspark-shell",
        ]
    )


def _wrap_package(tracer) -> None:
    """Wrap the public functions of every ``big_ann_spark`` operator
    module, plus the session helpers, in span-recording wrappers."""
    import big_ann_spark.operators as ops
    import big_ann_spark.session as session

    tracer.wrap_module(session, "session", ["prepare_foreign_session"])
    for info in pkgutil.iter_modules(ops.__path__):
        try:
            mod = importlib.import_module(f"big_ann_spark.operators.{info.name}")
        except ImportError as e:  # an optional dependency is missing
            print(f"# not traced: {info.name} ({e})", file=sys.stderr)
            continue
        tracer.wrap_module(mod, info.name)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input size; 'tiny' is for the self-test")
    ap.add_argument("--inject-wrong", action="store_true",
                    help="corrupt one result before it is checked (self-test)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "big_ann_spark", "__init__.py")):
        print(f"error: no big_ann_spark package under {ROOT}", file=sys.stderr)
        return 2
    work_root = os.path.join(ROOT, ".perfbench")
    work = os.path.join(work_root, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    _environment(work)
    sys.path.insert(0, ROOT)
    try:
        return _run(args, work, work_root)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str, work_root: str) -> int:
    import analytics
    import layers
    import serving
    from common import Context, median, peak_rss_mb, stop_spark
    from spans import Tracer

    ctx = Context(seed=args.seed, seconds=args.seconds, work_dir=work,
                  inject_wrong=args.inject_wrong)
    ctx.t_start = T_START
    load_before = os.getloadavg()[0]

    from big_ann_spark.session import get_spark, prepare_foreign_session

    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    ctx.layer["session.start_s"] = time.perf_counter() - t0
    ctx.spark = spark
    if args.trace:
        ctx.tracer = Tracer(spark)
        _wrap_package(ctx.tracer)
    # operators are called directly below, not through the registry
    prepare_foreign_session(spark)
    env = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "size": args.size,
        "master": spark.sparkContext.master,
        "default_parallelism": spark.sparkContext.defaultParallelism,
        "cpus": _cpus(),
        "loadavg_before": os.getloadavg(),
    }
    print(f"# {json.dumps(env)}", file=sys.stderr)
    try:
        (analytics if args.workload == "analytics" else serving).run(ctx, args.size)
        loop = ctx.requests
        kinds = {r.kind for r in loop if r.kind.startswith(("query.", "search."))}
        busy = sum(r.latency_s for r in loop)
        env["peak_rss_mb_python"], env["peak_rss_mb_jvm"] = peak_rss_mb(spark)
        ctx.layer["peak_rss_mb"] = env["peak_rss_mb_python"] + env["peak_rss_mb_jvm"]
        ctx.layer["mem.jvm_peak_rss_mb"] = env["peak_rss_mb_jvm"]
        e2e = {
            # each read kind's median latency, averaged over the kinds,
            # so a mix of fast and slow kinds does not make it jump
            "latency_p50_s": statistics.fmean(median(ctx.latencies(k)) for k in kinds)
            if kinds else 0.0,
            "qps": sum(r.queries for r in loop if r.ok) / busy if busy else 0.0,
            "setup_s": ctx.setup_s,
            # the driver JVM's share is a per-layer figure: with the
            # program's default heap it spreads 0.2-0.3 across seeds
            "python_peak_rss_mb": env["peak_rss_mb_python"],
        }
        metrics = e2e
        if args.trace:
            metrics = layers.compute(ctx, e2e)
            metrics["spark.default_parallelism"] = env["default_parallelism"]
            metrics["host.loadavg_before"] = load_before
            metrics["host.loadavg_after"] = os.getloadavg()[0]
        env["loadavg_after"] = os.getloadavg()
        print(f"# loadavg after: {env['loadavg_after']}", file=sys.stderr)
        result = {
            "correct": ctx.failed == 0,
            "attempted": ctx.attempted,
            "failed": ctx.failed,
            "metrics": {
                k: {"value": float(v), "unit": E2E_UNITS.get(k) or layers.unit(k)}
                for k, v in metrics.items()
            },
        }
        runs = os.path.join(work_root, "runs")
        os.makedirs(runs, exist_ok=True)
        record = dict(env, e2e=e2e, result=result, failures=ctx.failures, samples=ctx.samples,
                      requests=[r.__dict__ for r in ctx.requests],
                      request_counts=ctx.request_counts)
        stem = os.path.join(runs, f"{args.workload}-seed{args.seed}-trace{args.trace}")
        if ctx.tracer is not None:
            ctx.tracer.dump(stem + ".trace.json", record)
        else:
            with open(stem + ".json", "w") as f:
                json.dump(record, f, indent=1, default=str)
    finally:
        stop_spark(spark)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
