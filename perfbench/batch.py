"""The two batch workloads, ``analytics`` and ``curation``.

A run sets up once: it opens a session through the package's ``get_spark``
and resolves the input tables, timed from the start of the process. The
inputs are the reference test data, copied verbatim under ``data/``. Then it
runs every job of the workload once (the cold pass) and again in warm passes
until the measuring window is used. Each job call is ``fn(spark, data_dir)``
from the query registry with its result collected to the driver as a pandas
frame. After the timed phase, the cold and the last warm output of every job
are checked against the job's DuckDB oracle.
"""

from __future__ import annotations

import os
import random
import time

from common import HERE, Tracer, median, new_session, peak_rss_mb, quantile, session_facts
from oracle import Oracle, diff, tables

# Input directory of each workload.
DATA = {"analytics": os.path.join(HERE, "data", "sf0.1"), "curation": os.path.join(HERE, "data", "sf0.01")}
# Least number of warm passes in a run.
WARM_PASSES = 2

ANALYTICS = [
    "flagship_dashboard",
    "flagship_stats",
    "agg_group_q1",
    *(
        f"analytics_q{s}"
        for s in (
            "3_shipping 4_exists_priority 5_region_volume 6_selective 7_volume "
            "8_market_share 9_profit 10_returns 11_share 12_priority_mix "
            "13_custdist 14_promo 15_top_supplier 17_small_qty 18_large_orders "
            "19_disjunctive 22_dormant"
        ).split()
    ),
    "join_asof",
    "join_lookup_latest_state",
    "agg_latest_per_key",
    "window_rolling_avg",
    "window_session_30m",
    "events_retention_cohort",
    "events_funnel_conversion",
]

# Curation jobs grouped by operator family; the per-layer ``operators.*``
# metrics sum the engine counters of each family's jobs.
FAMILIES = {
    "text_join": ["text_prefix_filter_join", "text_ngram_jaccard", "text_containment_neardup"],
    "dedup": [
        "text_exact_dedup",
        "dedup_minhash_pairs_md5",
        "dedup_simhash_pairs_md5",
        "dedup_pipeline_blocked_verify",
        "dedup_ensemble_clusters",
        "dedup_cluster_exact",
        "streaming_dedup_watermark",
    ],
    "bpe": ["corpus_bpe_train_merges"],
    "quality": [
        "corpus_contamination_4gram",
        "corpus_leakage_safe_splits",
        "curation_quality_keep_matrix",
        "quality_repetition_signals",
    ],
    "graph": ["graph_minlabel_components", "graph_sssp_copurchase", "graph_pagerank_copurchase"],
}
CURATION = [j for jobs in FAMILIES.values() for j in jobs] + ["streaming_markov_transitions"]

JOBS = {"analytics": ANALYTICS, "curation": CURATION}


def job_registry(names: list[str]) -> dict:
    """Registry specs for ``names``; refuses rows-only (no oracle) entries."""
    from cognitive_score_bigdata_spark.queries import load_registry

    registry = load_registry()
    missing = [n for n in names if n not in registry or registry[n].oracle is None]
    if missing:
        raise RuntimeError(f"jobs without an oracle-backed registry entry: {missing}")
    return {n: registry[n] for n in names}


def _setup(data_dir: str, extra_conf: dict, tracer: Tracer, origin: float):
    """A session and the resolved input tables, and the set-up time counted
    from ``origin`` (the start of the process in an untraced run)."""
    from cognitive_score_bigdata_spark import io as engine_io

    t1 = time.time()
    spark = new_session("perfbench-batch", extra_conf)
    t2 = time.time()
    for t in tables(data_dir):
        engine_io.load_table(spark, data_dir, t).schema  # noqa: B018
    t3 = time.time()
    tracer.record("session.get_spark", t1, t2)
    tracer.record("io.load_table", t2, t3)
    return spark, t3 - origin


def run_job(spark, spec, data_dir: str):
    spark.sparkContext.setJobDescription(spec.name)
    try:
        return spec.fn(spark, data_dir).toPandas()
    finally:
        spark.sparkContext.setJobDescription(None)


def run(workload: str, seed: int, seconds: float, origin: float, hooks) -> dict:
    """Run one batch workload; returns the measurement record."""
    # The cold pass runs the jobs in their listed order, so that the same job
    # pays the first-query start-up on every seed; the seed shuffles the
    # order of the warm passes.
    names = list(JOBS[workload])
    shuffled = random.Random(seed).sample(names, len(names))
    specs = job_registry(names)
    data_dir = DATA[workload]
    os.environ["SPARK_GRAFT_SF_DIR"] = data_dir
    tracer = hooks.tracer
    spark, setup_s = _setup(data_dir, hooks.extra_conf, tracer, origin)
    hooks.attach()

    outputs: dict[str, dict] = {"cold": {}, "warm": {}}
    failures: list[str] = []
    calls: dict[str, list[float]] = {name: [] for name in names}
    passes: list[float] = []
    t_warm = None
    # A cold pass, then warm passes: at least ``WARM_PASSES`` of them and at
    # least ``seconds`` of warm-pass time.
    while len(passes) <= WARM_PASSES or time.time() - t_warm < seconds:
        label = "cold" if not passes else "warm"
        t_pass = time.time()
        t_warm = t_warm or (t_pass if label == "warm" else None)
        for name in names if label == "cold" else shuffled:
            t0 = time.time()
            try:
                out = run_job(spark, specs[name], data_dir)
            except Exception as exc:  # a failing job is a failed operation
                failures.append(f"{name} ({label}): {type(exc).__name__}: {str(exc)[:300]}")
                out = None
            t1 = time.time()
            tracer.record(f"queries.{name}", t0, t1, parent=f"pass{len(passes)}")
            calls[name].append(t1 - t0)
            if out is not None:
                outputs[label][name] = out
        passes.append(time.time() - t_pass)
        tracer.record("pass", t_pass, time.time())
    rss = peak_rss_mb(spark)
    facts = session_facts(spark)
    hooks.detach()

    # Checks, outside every timed interval.
    oracle = Oracle(data_dir)
    try:
        for name in names:
            want = oracle.run(specs[name].oracle)
            for label in ("cold", "warm"):
                got = outputs[label].get(name)
                if got is None:
                    continue
                problem = diff(got, want)
                if problem:
                    failures.append(f"{name} ({label}): {problem}")
    finally:
        oracle.close()

    warm = passes[1:]
    warm_calls = [t for ts in calls.values() for t in ts[1:]]
    attempted = sum(len(ts) for ts in calls.values())
    return {
        "spark": spark,
        "facts": facts,
        "attempted": attempted,
        "failures": failures,
        "metrics": {
            "setup_s": (setup_s, "s"),
            "cold_pass_s": (passes[0], "s"),
            "pass_s": (median(warm), "s"),
        },
        "printed": {"peak_rss_mb": (rss["total"], "MB")},
        "report": {
            "pass_samples_s": warm,
            "pass_iqr_s": quantile(warm, 0.75) - quantile(warm, 0.25),
            "job_p50_ms": 1000 * median(warm_calls),
            "job_p95_ms": 1000 * quantile(warm_calls, 0.95),
            "warm_order": shuffled,
            "job_samples_s": calls,
            "passes": len(passes),
            "peak_rss_split_mb": rss,
            "trace_basis_s": median(warm),
        },
    }
