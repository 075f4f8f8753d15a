"""Per-layer metrics of the traced run, by name, unit and direction.

Per-round numbers (``engine.*``, ``catalog.*`` and the replayed crawl
operators) are medians over the run's timed rounds; ``setup.*`` are the
run's set-up phases. The training-data layer (``textstats``,
``docdedup``, ``similarity``, ``multimodal``) runs once, after the
crawl, in the traced ``refresh_parse`` run only, and reads 0 elsewhere.

:data:`PER_LAYER` is what the traced run prints (and what
``BENCHMARK.json`` lists): the numbers an optimisation is expected to
move. :data:`COUNTS` describe the work each layer was given (rows in
and out, ratios fixed by the inputs); they go to the trace file only.
"""

from __future__ import annotations

import statistics

LOWER, HIGHER = "lower", "higher"

# name -> (unit, better, source); source "round" = median over the
# timed rounds, "corpus" = the training-data pass, "setup" = set-up
# phase. trace.overhead_s is the tracer's own bookkeeping inside a
# round (spans, job-group calls), replays excluded.
PER_LAYER = {
    "engine.read_state_s": ("s", LOWER, "round"),
    "engine.plan_s": ("s", LOWER, "round"),
    "engine.write_articles_s": ("s", LOWER, "round"),
    "engine.write_parallel_s": ("s", LOWER, "round"),
    "engine.metrics_s": ("s", LOWER, "round"),
    "engine.driver_collects": ("count", LOWER, "round"),
    "engine.spark_jobs": ("count", LOWER, "round"),
    "engine.spark_tasks": ("count", LOWER, "round"),
    "engine.failed_tasks": ("count", LOWER, "round"),
    "engine.phase_gap_ratio": ("ratio", LOWER, "round"),
    "politeness.busy_s": ("s", LOWER, "round"),
    "links.busy_s": ("s", LOWER, "round"),
    "dedup.busy_s": ("s", LOWER, "round"),
    "dedup.bloom_fp_ratio": ("ratio", LOWER, "round"),
    "dedup.bloom_merge_s": ("s", LOWER, "round"),
    "sequence.busy_s": ("s", LOWER, "round"),
    "sequence.jobs": ("count", LOWER, "round"),
    "parse.busy_s": ("s", LOWER, "round"),
    "history.busy_s": ("s", LOWER, "round"),
    "catalog.read_s": ("s", LOWER, "round"),
    "catalog.write_s": ("s", LOWER, "round"),
    "catalog.commit_s": ("s", LOWER, "round"),
    "catalog.rows_written": ("count", LOWER, "round"),
    "catalog.mb_written": ("MB", LOWER, "round"),
    "catalog.files_written": ("count", LOWER, "round"),
    "setup.corpus_s": ("s", LOWER, "setup"),
    "setup.seeds_s": ("s", LOWER, "setup"),
    "setup.bootstrap_s": ("s", LOWER, "setup"),
    "setup.state_s": ("s", LOWER, "setup"),
    "setup.warmup_s": ("s", LOWER, "setup"),
    "textstats.busy_s": ("s", LOWER, "corpus"),
    "docdedup.exact_s": ("s", LOWER, "corpus"),
    "docdedup.minhash_s": ("s", LOWER, "corpus"),
    "docdedup.pairs_s": ("s", LOWER, "corpus"),
    "docdedup.clusters_s": ("s", LOWER, "corpus"),
    "docdedup.simhash_s": ("s", LOWER, "corpus"),
    "docdedup.ngram_s": ("s", LOWER, "corpus"),
    "similarity.brute_s": ("s", LOWER, "corpus"),
    "similarity.lsh_s": ("s", LOWER, "corpus"),
    "similarity.ivf_s": ("s", LOWER, "corpus"),
    "similarity.lsh_recall_at_5": ("ratio", HIGHER, "corpus"),
    "similarity.ivf_recall_at_5": ("ratio", HIGHER, "corpus"),
    "multimodal.busy_s": ("s", LOWER, "corpus"),
    "trace.overhead_s": ("s", LOWER, "round"),
}

COUNTS = {
    "politeness.rows_in": "count", "politeness.rows_out": "count",
    "politeness.host_skew": "ratio",
    "links.parents_in": "count", "links.children_out": "count",
    "dedup.candidates_in": "count", "dedup.fresh_out": "count",
    "parse.rows_in": "count", "parse.html_mb_in": "MB",
    "parse.articles_out": "count", "parse.reject_ratio": "ratio",
    "history.rows_in": "count", "history.duplicate_ratio": "ratio",
    "catalog.seen_rows": "count", "catalog.pending_rows": "count",
    "docdedup.pairs_out": "count", "trace.rounds": "count",
}


def _per_round(rounds: list[dict], name: str) -> float:
    vals = [r[name] for r in rounds if name in r]
    return float(statistics.median(vals)) if vals else 0.0


def per_layer_metrics(res: dict, setup: dict) -> tuple[dict, dict, dict]:
    """(metrics, units, counts) of a traced run."""
    rounds = res["per_round"]
    corpus = res.get("corpus", {})
    metrics: dict[str, float] = {}
    for name, (_, _, source) in PER_LAYER.items():
        if source == "round":
            metrics[name] = _per_round(rounds, name)
        elif source == "corpus":
            metrics[name] = float(corpus.get(name, 0.0))
        else:
            metrics[name] = float(setup.get(name, 0.0))
    counts = {name: (_per_round(rounds, name) if name in rounds[0]
                     else float(corpus.get(name, 0.0)))
              for name in COUNTS if name != "trace.rounds"}
    counts["trace.rounds"] = len(rounds)
    units = {name: spec[0] for name, spec in PER_LAYER.items()}
    return metrics, units, counts
