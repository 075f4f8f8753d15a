#!/usr/bin/env python3
"""Crawl benchmark: one command, two crawl workloads, one JSON result.

    python3 perfbench/run.py --workload refresh_parse --seed 1 \\
        --seconds 15 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed``; the engine only sees those inputs. Rounds run back to back
for ``--seconds`` seconds (the round in progress is finished). Outputs
are then checked against the repository's oracles, and the last line
of standard output is one JSON object::

    {"correct": bool, "attempted": int, "failed": int,
     "metrics": {name: {"value": float, "unit": str}, ...}}

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same loop with spans around every layer, re-drives each operator on
every timed round's pinned inputs, and reports the per-layer metrics
(spans are written to ``.perfbench/trace-<workload>-<seed>.json``).
Metric names, units and the layer each one belongs to are listed in
``BENCHMARK.json`` and ``perfbench/LAYERS.md``.

Everything the run writes (Spark scratch, warehouse, temp files) stays
under ``.perfbench/`` in the working directory and the run's own
directory is removed at exit; the Spark JVM and its Python workers are
stopped and waited for before the process exits.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
WORKLOADS = ("refresh_parse", "deep_discover")

# the whole run, set-up and checks included, must end well inside the
# 180 s a run is allowed
RUN_LIMIT_S = 170.0

END_TO_END_UNITS = {"items_per_s": "1/s", "round_p50_s": "s",
                    "setup_s": "s", "peak_rss_mb": "MB"}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _cores() -> int:
    # local[k] with k <= the cores this process may use; capped at 4 so
    # a run on a larger host measures the same configuration
    return max(1, min(4, len(os.sched_getaffinity(0))))


def build_spark(workdir: str, cores: int):
    from pyspark.sql import SparkSession
    tmp = os.path.join(workdir, "tmp")
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", "1g")
        .config("spark.local.dir", tmp)
        .config("spark.sql.warehouse.dir", os.path.join(workdir, "sql"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, grace: float = 30.0) -> None:
    """Stop Spark, end its JVM and wait for every process it started;
    kill whatever is still there after ``grace`` seconds."""
    import procs
    from pyspark import SparkContext
    tree = procs.descendants(os.getpid())
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()     # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=grace)
    left = procs.wait_gone(tree, grace)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    procs.wait_gone(left, 10)


def start_watchdog(limit_s: float) -> None:
    """Past ``limit_s`` seconds, kill every process this run started and
    exit with status 3, so a stalled run still ends in time and leaves
    nothing behind."""
    import threading

    import procs

    def fire():
        for pid in procs.descendants(os.getpid()):
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        print(f"perfbench: run exceeded {limit_s:.0f}s, aborted",
              file=sys.stderr)
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def _on_sigterm(signum, frame):
    raise SystemExit(143)   # unwinds through main's finally: Spark stops


def summarize(args, res: dict, setup: dict, setup_s: float,
              peak_mb: float) -> tuple[dict, dict]:
    """(result line, layer counts for the trace file)."""
    attempted, failed, notes = res["check"]
    for n in notes:
        print(f"[perfbench] mismatch: {n}", file=sys.stderr)
    walls = res["walls"]
    if args.trace == 0:
        metrics = {
            "items_per_s": res["items"] / res["wall"],
            "round_p50_s": statistics.median(walls),
            "setup_s": setup_s,
            "peak_rss_mb": peak_mb,
        }
        units, counts = END_TO_END_UNITS, {}
    else:
        from layers import per_layer_metrics
        metrics, units, counts = per_layer_metrics(res, setup)
    print(f"[perfbench] {args.workload} seed={args.seed} "
          f"rounds={len(walls)} walls={[round(w, 3) for w in walls]} "
          f"items={res['items']} setup_s={setup_s:.3f} "
          f"attempted={attempted} failed={failed} "
          f"phases={ {k: round(v, 2) for k, v in setup.items()} }",
          file=sys.stderr)
    return {
        "correct": failed == 0,
        "attempted": max(int(attempted), 1),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": units[k]}
                    for k, v in metrics.items()},
    }, counts


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    try:
        import web_scrapers_python_spark  # noqa: F401  (program under test)
    except ImportError as ex:
        print(f"perfbench: cannot import the crawl engine from {ROOT}: "
              f"{ex}", file=sys.stderr)
        return 2
    import procs
    start_epoch = procs.process_start_epoch()
    signal.signal(signal.SIGTERM, _on_sigterm)
    start_watchdog(RUN_LIMIT_S)

    workdir = os.path.join(ROOT, ".perfbench",
                           f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(workdir, exist_ok=True)
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Spark's JVM and Python workers inherit these: scratch stays in the
    # run's directory, and workers import the program from the checkout
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    # every JVM, the spark-submit launcher included: temp files in the
    # run's directory, no /tmp/hsperfdata_* perf-counter files
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in
                        os.environ.get("PYTHONPATH", "").split(os.pathsep)
                        if p])
    os.environ.setdefault("PYARROW_IGNORE_TIMEZONE", "1")

    sampler = procs.RssSampler(os.getpid()).start()
    spark = None
    try:
        import workloads as WL
        from spans import Tracer
        spark = build_spark(workdir, _cores())
        tracer = Tracer(spark, f"{args.workload}-{args.seed}",
                        enabled=bool(args.trace))
        ctx = WL.Ctx(spark=spark, seed=args.seed, seconds=args.seconds,
                     workdir=workdir, tracer=tracer, traced=bool(args.trace),
                     sampler=sampler)
        res = getattr(WL, args.workload)(ctx)
        setup_s = ctx.setup_done - start_epoch
        out, counts = summarize(args, res, ctx.setup, setup_s,
                                sampler.peak_mb)
        if args.trace:
            tracer.dump(os.path.join(
                ROOT, ".perfbench", f"trace-{args.workload}-{args.seed}.json"),
                {"inputs": WL.I.input_key(args.workload, args.seed),
                 "layer_counts": counts, "result": out})
    finally:
        if spark is not None:
            stop_spark(spark)
        sampler.stop()
        shutil.rmtree(workdir, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
