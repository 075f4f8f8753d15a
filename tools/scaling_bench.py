"""North-rule scaling evidence: the same crawl job at two parallelism
levels (local[N] vs local[4N]) over the same on-disk corpus, reporting
throughput at both and the scaling efficiency

    eff = rate_4N / (4 * rate_N)            (target >= 0.8)

This sandbox has no multi-executor cluster; per the driver instruction
the two local[*] core counts stand in for N and 4N executors. The
corpus is generated once (parquet on disk) and both runs read the same
files; each run gets a fresh SparkSession, a codegen warm-up crawl,
then the timed crawl (bootstrap + discover round + parse round).

Usage: python tools/scaling_bench.py [--small] [--out BENCH_SCALING.json]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SEED = 42
EXEC_MODE = False   # set by --executors: local-cluster[N,2,6144] levels

# body_scale=6 ≈ 10-40 KB pages — representative Common-Crawl page
# weight (the default sf-test corpus at scale 1 is unrealistically thin,
# which overstates fixed-overhead share and understates per-URL work).
# Corpus sized so the HIGH level's wall is ~4-5 min: round-3's 140-190 s
# level-4 runs swung +-30% with background I/O; the variance is roughly
# constant in seconds, so longer runs shrink it proportionally.
FULL = dict(n_pages=600_000, n_hosts=1024, n_seeds=300_000,
            rounds=2, budget=100_000, salts=16, warm_seeds=2_000,
            body_scale=6)
SMALL = dict(n_pages=30_000, n_hosts=256, n_seeds=12_000,
             rounds=2, budget=100_000, salts=8, warm_seeds=500,
             body_scale=6)


def build_spark(cpus: int, force_local: bool = False):
    from pyspark.sql import SparkSession
    if EXEC_MODE and not force_local:
        # REAL multi-executor evidence: local-cluster spawns `cpus/2`
        # separate executor JVMs (2 cores, 6 GB each) talking to the
        # driver over the standalone-master protocol — actual
        # cross-process shuffle/broadcast/task dispatch, the closest
        # this sandbox gets to adding machines. `cpus` stays the TOTAL
        # core count so workload math is unchanged.
        n_exec = max(1, cpus // 2)
        master = f"local-cluster[{n_exec},2,6144]"
    else:
        master = f"local[{cpus}]"
    # local[*] runs tasks (and their Arrow direct buffers) inside the
    # driver JVM -> big heap; local-cluster moves them into executors
    driver_mem = "8g" if (EXEC_MODE and not force_local) else "24g"
    return (
        SparkSession.builder.master(master)
        .appName(f"scaling-bench-{cpus}")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.driver.memory", driver_mem)
        .config("spark.executor.memory", "6g")
        .config("spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )


def gen_corpus(workdir: str, cfg: dict) -> str:
    """Generate the pages corpus once, at full parallelism, to parquet."""
    path = os.path.join(workdir, "pages")
    if os.path.exists(os.path.join(path, "_SUCCESS")):
        return path
    from web_scrapers_python_spark.sources import datagen as G
    spark = build_spark(os.cpu_count() or 32, force_local=True)
    try:
        G.generate_pages(spark, cfg["n_pages"], cfg["n_hosts"], SEED,
                         body_scale=cfg.get("body_scale", 1)) \
            .write.mode("overwrite").parquet(path)
    finally:
        spark.stop()
        # stop() leaves the py4j gateway JVM alive in this (long-lived
        # orchestrator) process — and it can sit at ~2 cores of GC churn
        # polluting every level measured afterwards. Shut it down hard.
        try:
            from pyspark import SparkContext
            if SparkContext._gateway is not None:
                SparkContext._gateway.shutdown()
                SparkContext._gateway = None
                SparkContext._jvm = None
        except Exception:
            pass
    return path


def write_seeds(workdir: str, name: str, k: int, cfg: dict) -> str:
    from web_scrapers_python_spark.sources import datagen as G
    p = os.path.join(workdir, name)
    if not os.path.exists(p):
        with open(p, "w") as f:
            for i in range(k):
                f.write('{"url": "%s", "label": "a"}\n'
                        % G.url_of(SEED, i, cfg["n_hosts"]))
    return p


def run_level(cpus: int, pages_path: str, workdir: str, cfg: dict) -> dict:
    from web_scrapers_python_spark.plans.engine import CrawlConfig, CrawlEngine
    from web_scrapers_python_spark.sources import datagen as G
    from web_scrapers_python_spark.sources.catalog import SnapshotCatalog
    from web_scrapers_python_spark.sources.seeds import read_seeds

    spark = build_spark(cpus)
    try:
        # The corpus is NOT cached: at body_scale=6 it is ~18 GB
        # deserialized (heap thrash at any local[*] size), and at the
        # 10^10 design point caching is impossible anyway — rounds scan
        # the columnar store with column pruning (url+html only; the
        # fetch joins are broadcast-side so pages never shuffle) and the
        # OS page cache holds the hot compressed bytes. Parallelism
        # comes from the split size set in build_spark.
        pages = spark.read.parquet(pages_path)
        pages.count()   # warm the file-system cache / footer parsing
        rows = G.host_policy_rows(SEED, cfg["n_hosts"])
        for row in rows:
            row["max_per_round"] = cfg["budget"]
        policy = spark.createDataFrame(
            rows, "host string, crawl_delay double, max_per_round int, "
                  "robots_disallow array<string>")
        ccfg = CrawlConfig(n_salts=cfg["salts"], use_bloom=False,
                           default_budget=cfg["budget"])

        # codegen/JIT warm-up: structurally identical, small
        warm_wh = tempfile.mkdtemp(prefix=f"warm{cpus}-", dir=workdir)
        warm = CrawlEngine(
            spark, pages, policy, SnapshotCatalog(spark, warm_wh), ccfg)
        warm.run(read_seeds(spark, write_seeds(
            workdir, "warm_seeds.txt", cfg["warm_seeds"], cfg)),
            max_rounds=cfg["rounds"])
        shutil.rmtree(warm_wh, ignore_errors=True)

        # per-barrier accounting: the median cost of ONE empty driver
        # job (submit → schedule 1 task → collect) on this topology.
        # Each engine driver barrier (run_round's `_collects`) pays at
        # least this fixed RPC cost; barriers/round × this number is
        # the driver-coordination share of the level's wall clock.
        import statistics as _st
        barrier_runs = []
        for _ in range(10):
            bt = time.time()
            spark.range(1).count()
            barrier_runs.append(time.time() - bt)
        barrier_rpc_sec = round(_st.median(barrier_runs), 4)

        wh = tempfile.mkdtemp(prefix=f"run{cpus}-", dir=workdir)
        eng = CrawlEngine(
            spark, pages, policy, SnapshotCatalog(spark, wh), ccfg)
        seeds = read_seeds(spark, write_seeds(
            workdir, "seeds.txt", cfg["n_seeds"], cfg))
        t0 = time.time()
        metrics = eng.run(seeds, max_rounds=cfg["rounds"])
        dt = time.time() - t0
        shutil.rmtree(wh, ignore_errors=True)
        scheduled = sum(m["scheduled"] for m in metrics)
        parsed = sum(m["articles_scraped"] for m in metrics)
        return {
            "cpus": cpus,
            "rounds": [
                {k: v for k, v in m.items() if not k.startswith("_")}
                | {"timings": m.get("_timings", {}),
                   "driver_collects": m.get("_collects")}
                for m in metrics
            ],
            "urls_scheduled": scheduled,
            "articles_parsed": parsed,
            "sec": round(dt, 2),
            "urls_per_sec": round((scheduled + parsed) / dt, 2),
            "barrier_rpc_sec": barrier_rpc_sec,
            "driver_barrier_sec_est": round(
                barrier_rpc_sec
                * sum(m.get("_collects") or 0 for m in metrics), 3),
        }
    finally:
        spark.stop()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", action="store_true")
    ap.add_argument("--levels", default="8,32")
    ap.add_argument("--executors", action="store_true",
                    help="levels are TOTAL cores run as local-cluster "
                         "with cores/2 real executor JVMs (2 cores, "
                         "6 GB each) — executor-scaling evidence")
    ap.add_argument("--workdir", default=None)
    ap.add_argument("--out", default=None)
    ap.add_argument("--run-level", type=int, default=None,
                    help="internal: run one level in this process")
    ap.add_argument("--pages", default=None)
    ap.add_argument("--repeats", type=int, default=1,
                    help="run each level N times (interleaved A,B,A,B,…"
                         " to decorrelate machine drift) and report the"
                         " per-level MEDIAN rate — this box has ±30%% "
                         "run-to-run spread, single runs are unreadable")
    ap.add_argument("--control-gate", type=float, default=None,
                    help="run the pure-CPU 1v4 control "
                         "(tools/cpu_control.py) before the first and "
                         "after the last repeat, record both in the "
                         "artifact, and mark gate_valid=false when "
                         "either is below this threshold — a session "
                         "whose own box cannot scale to the target "
                         "cannot gate the engine (the r05_hostnoise "
                         "lesson). Recommended: the 0.8 target itself.")
    args = ap.parse_args()
    cfg = SMALL if args.small else FULL
    workdir = args.workdir or tempfile.mkdtemp(prefix="scaling-bench-")
    global EXEC_MODE
    EXEC_MODE = args.executors

    if args.run_level is not None:
        # child mode: one level per process — a fresh JVM per level so
        # the previous level's heap/cache can't skew the measurement
        res = run_level(args.run_level, args.pages, workdir, cfg)
        print("RESULT " + json.dumps(res))
        return

    levels = [int(x) for x in args.levels.split(",")]
    t0 = time.time()
    pages_path = gen_corpus(workdir, cfg)
    gen_sec = round(time.time() - t0, 1)

    import statistics
    import subprocess

    def control_pair() -> float:
        """Pure-CPU lo-v-hi scaling of the BOX right now (no Spark) —
        the ceiling any engine measurement is bounded by this session.
        Subprocess so the pool workers never share this process."""
        proc = subprocess.run(
            [sys.executable,
             os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "cpu_control.py"),
             str(levels[0]), str(levels[-1])],
            capture_output=True, text=True)
        if proc.returncode != 0 or not proc.stdout.strip():
            raise RuntimeError(
                f"cpu_control.py failed (exit {proc.returncode}): "
                f"{proc.stderr.strip()[-2000:]}")
        pairs = json.loads(proc.stdout.strip().splitlines()[-1])["pairs"]
        return list(pairs.values())[0]

    control_before = control_pair() if args.control_gate is not None \
        else None
    if control_before is not None:
        print(f"CONTROL before: {control_before}", file=sys.stderr)
    runs: dict[int, list] = {c: [] for c in levels}
    first = True
    for rep in range(max(1, args.repeats)):
        for cpus in levels:
            if not first:
                os.sync()
                time.sleep(15)   # let the previous JVM's I/O settle
            first = False
            cmd = [sys.executable, os.path.abspath(__file__),
                   "--run-level", str(cpus), "--pages", pages_path,
                   "--workdir", workdir] \
                + (["--small"] if args.small else []) \
                + (["--executors"] if args.executors else [])
            proc = subprocess.run(cmd, capture_output=True, text=True,
                                  cwd=os.path.dirname(os.path.dirname(
                                      os.path.abspath(__file__))))
            line = [ln for ln in proc.stdout.splitlines()
                    if ln.startswith("RESULT ")]
            if not line:
                print(proc.stdout[-2000:], file=sys.stderr)
                print(proc.stderr[-2000:], file=sys.stderr)
                raise RuntimeError(f"level {cpus} failed")
            runs[cpus].append(json.loads(line[-1][len("RESULT "):]))
            lbl = (f"local-cluster[{max(1, cpus // 2)}x2cores]"
                   if args.executors else f"local[{cpus}]")
            print(f"LEVEL {lbl} rep {rep}: "
                  f"{runs[cpus][-1]['urls_per_sec']} urls/s "
                  f"({runs[cpus][-1]['sec']}s)", file=sys.stderr)

    def median_rate(cpus: int) -> float:
        return statistics.median(r["urls_per_sec"] for r in runs[cpus])

    # per-level summary = the median-rate run, plus all repeat rates
    # and the spread (max-min as % of median) — the gate is the median,
    # the spread shows whether the measurement is clean
    results = {}
    for cpus in levels:
        med = median_rate(cpus)
        rates = [r["urls_per_sec"] for r in runs[cpus]]
        rep = min(runs[cpus], key=lambda r: abs(r["urls_per_sec"] - med))
        results[cpus] = dict(
            rep, urls_per_sec_median=round(med, 2),
            repeat_rates=rates,
            rate_min=min(rates), rate_max=max(rates),
            spread_pct=round(100 * (max(rates) - min(rates))
                             / med, 1))

    lo, hi = min(levels), max(levels)
    factor = hi / lo
    eff = median_rate(hi) / (factor * median_rate(lo))
    eff_runs = [h["urls_per_sec"] / (factor * l["urls_per_sec"])
                for l, h in zip(runs[lo], runs[hi])]
    out = {
        "config": cfg, "mode": "local-cluster" if args.executors else "local",
        "gen_sec": gen_sec, "repeats": max(1, args.repeats),
        "levels": {str(k): v for k, v in results.items()},
        "scaling": {
            "n_cores": lo, "four_n_cores": hi, "factor": factor,
            "rate_n": round(median_rate(lo), 2),
            "rate_4n": round(median_rate(hi), 2),
            "efficiency": round(eff, 3),
            "efficiency_per_repeat": [round(e, 3) for e in eff_runs],
            # the paired estimator: each repeat's levels run adjacently
            # in time, so the per-repeat ratio controls for slow box
            # drift that the ratio-of-medians mixes across the session
            "efficiency_repeat_median": round(
                statistics.median(eff_runs), 3),
            "efficiency_min": round(min(eff_runs), 3),
            "efficiency_max": round(max(eff_runs), 3),
            "target": 0.8,
            # the gate is the PAIRED estimator (median of per-repeat
            # efficiencies): with >=3 interleaved repeats it is robust
            # to a single noisy repeat AND to slow box drift, which the
            # ratio-of-medians mixes across the whole session (its two
            # medians can come from repeats measured an hour apart).
            # Both estimators are recorded above so a reader can check
            # they agree; pass_estimator names which one gates.
            "pass": (statistics.median(eff_runs)
                     if len(eff_runs) >= 3 else eff) >= 0.8,
            "pass_estimator": "efficiency_repeat_median"
                              if len(eff_runs) >= 3 else "efficiency",
        },
    }
    if args.control_gate is not None:
        control_after = control_pair()
        print(f"CONTROL after: {control_after}", file=sys.stderr)
        out["same_session_cpu_control"] = {
            "tool": f"tools/cpu_control.py {levels[0]} {levels[-1]}",
            "before": control_before, "after": control_after,
            "threshold": args.control_gate,
        }
        # a session whose own pure-CPU ceiling is below the target
        # cannot gate the engine in either direction
        out["gate_valid"] = (min(control_before, control_after)
                             >= args.control_gate)
        out["scaling"]["pass"] = bool(out["scaling"]["pass"]
                                      and out["gate_valid"])
    print(json.dumps(out))
    if args.out:
        with open(args.out, "w") as f:
            json.dump(out, f, indent=2)


if __name__ == "__main__":
    main()
