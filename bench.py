#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Runs each headline query end-to-end (full execution via the `noop`
sink — no driver-side materialization, so it times the distributed
plan, not a collect) and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Usage: python bench.py  (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS)

It is also the timing core of tools/bench_solo.py and
tools/opt_measure.py: `noop`, `warm_up`, `clear_session_cache`,
`best_of` (with its stall guard) and `calibration_probe`.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from big_data_final_project_spark.operators import scale  # noqa: E402
from big_data_final_project_spark.registry import catalog  # noqa: E402
from big_data_final_project_spark.session import get_spark  # noqa: E402

# Heaviest / most representative queries: full-scan agg, joins at every
# size class, windows, dedup/text scans. Coverage queries (scalar_*)
# are cheap projections and excluded — they'd just time parquet IO.
HEADLINE = [
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q6_forecast_revenue",
    "tpch_q10_returned_items",
    "tpch_q9_product_profit",
    "tpch_q13_customer_distribution",
    "tpch_q21_waiting_suppliers",
    "join_inner_star",
    "join_asof",
    "agg_multi_key",
    "agg_rollup",
    "window_running_sum",
    "window_topk_per_group",
    "ref_grouped_summary",
    # LLM-data-pipeline operators (north star): fuzzy dedup, quality
    # scoring, ANN search
    "dedup_minhash_pairs",
    "text_quality_score",
    "text_tfidf_top_terms",
    "sim_lsh_bucketed_topk",
    "kmeans_lloyd_refine",
    "pipeline_training_shards",
    # fixed-point numpy fast paths (round 2: these ARE the oracle paths)
    "sim_bruteforce_topk",
    "dedup_embedding_cosine",
    "sim_ivf_topk",
    # round-2 corpus screening
    "curation_decontaminate",
    "curation_repetition_stats",
    # round-3 families: graph analytics, mergeable distinct,
    # sessionization, span-level dedup
    "graph_pagerank",
    "agg_bitmap_distinct",
    "ts_sessionize_batch",
    "dedup_substring_windows",
    # round-4 families: bloom semi-join reduction, interval overlap,
    # privacy audit, RFM segmentation
    "join_bloom_prefilter",
    "join_interval_overlap",
    "privacy_k_anonymity",
    "events_rfm_segments",
    # round-4d families: PQ vector compression, count-min sketch,
    # gains/lift targeting, dynamic partition pruning
    "sim_pq_codebook",
    "agg_countmin_sketch",
    "ml_gains_deciles",
    "join_dpp_partitioned",
    # round-4e families: exact selection without sort, prefix-filtered
    # set similarity, stump split search, incremental join maintenance
    "agg_median_bisect",
    "dedup_prefix_filter_join",
    "ml_decision_stump",
    "store_incremental_join",
    # round-4e4: all-breakpoints changepoint, graded ranking eval
    "ts_piecewise_fit_changepoint",
    "ml_ndcg_at_k",
    # round-4f families: iterative BPE training, LSH tuning sweep,
    # deterministic walk corpus, content-defined chunking
    "text_bpe_train_rounds",
    "dedup_lsh_tuning",
    "graph_random_walks",
    "text_cdc_chunks",
    # round-5 families: distributed-query-set ANN (no driver collect),
    # held-out bigram LM quality filter
    "sim_lsh_join_topk",
    "curation_bigram_lm_heldout",
]


def noop(df) -> None:
    """Force full execution of every column without collecting."""
    df.write.format("noop").mode("overwrite").save()


def timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def best_of(fn, n: int = 3, before=None) -> list[float]:
    """`n` timed calls of `fn` (`before` runs untimed ahead of each),
    plus a stall guard: outside-VM stalls have been measured at up to
    25 s on a query whose floor is 1.8 s, so when the second-best run
    is twice the best, the sample is stall-heavy and a 4th run is
    taken."""

    def once() -> float:
        if before is not None:
            before()
        return timed(fn)

    runs = [once() for _ in range(n)]
    if len(runs) > 1 and sorted(runs)[1] > 2.0 * sorted(runs)[0]:
        runs.append(once())
    return runs


def clear_session_cache() -> None:
    """Drop the session-scoped intermediates (and free their executor
    blocks), so the next run pays the query's full build cost."""
    for df in scale._SESSION_CACHE.values():
        try:
            df.unpersist(blocking=False)
        except Exception:
            pass
    scale._SESSION_CACHE.clear()


def warm_up(spark, df) -> None:
    """One full untimed run warms the JVM (codegen JIT, parquet reader,
    shuffle; a limit(1) is not enough, AQE short-circuits the
    aggregation), and one tiny mapInPandas job warms the Python/Arrow
    worker pool, so pandas-path queries measure steady state."""
    noop(df)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    workers = spark.range(64, numPartitions=cpus).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long"
    )
    noop(workers)


def sf_value(sf_dir: str):
    sf = os.path.basename(sf_dir.rstrip("/")).replace("sf", "")
    try:
        return float(sf)
    except ValueError:
        return sf


def calibration_probe(spark) -> float:
    """A pinned-size range -> shuffle -> aggregate with no data
    dependence, best of 3. It measures the BOX (CPU, scheduler,
    outside-VM stalls), not the engine: taken at the start and end of
    every run, so a headline drift can be attributed (probe moved with
    it = environment; probe flat = engine). The exchange is pinned at
    32 partitions so engine tuning of the session's partition count
    never moves the meter."""
    from pyspark.sql import functions as F

    def job() -> None:
        noop(
            spark.range(50_000_000, numPartitions=32)
            .withColumn("k", F.col("id") % 1000)
            .groupBy("k")
            .agg(F.sum("id").alias("s"), F.count("*").alias("n"))
        )

    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    spark.conf.set(key, "32")
    try:
        return round(min(timed(job) for _ in range(3)), 4)
    finally:
        spark.conf.set(key, saved)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_val = sf_value(sf_dir)
    spark = get_spark(app_name="bench")

    cat = catalog()
    names = [n for n in HEADLINE if n in cat]
    warm_up(spark, cat[names[0]].fn(spark, sf_dir))
    probe_start = calibration_probe(spark)

    def run(name: str) -> None:
        noop(cat[name].fn(spark, sf_dir))

    # Min over repeats measures the engine, not a neighbour's stall.
    # Each .fn call builds a fresh plan; the JVM/JIT and the session
    # cache stay warm (steady state, the number that scales).
    times = {name: round(min(best_of(lambda: run(name))), 4) for name in names}
    total = round(sum(times.values()), 4)

    # Full-registry sweep, one timed run per query, so regressions
    # outside the headline set stay visible; judge its distribution,
    # not one outlier. SPARK_GRAFT_BENCH_SWEEP=0 skips it.
    sweep: dict[str, float] = {}
    if os.environ.get("SPARK_GRAFT_BENCH_SWEEP", "1") != "0":
        for name in sorted(cat):
            sweep[name] = round(timed(lambda: run(name)), 4)
        # Re-time anything over 5 s once and keep the min: a slow query
        # stays slow, a stall victim gets its true number. The cache is
        # cleared first so the re-run pays the builds the first run
        # paid instead of timing a cache hit.
        for name, t in list(sweep.items()):
            if t > 5.0:
                clear_session_cache()
                sweep[name] = round(min(t, timed(lambda: run(name))), 4)

    probe_end = calibration_probe(spark)

    out = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf_val,
        # box-speed calibration before and after the headline loop
        "probe_sec": {"start": probe_start, "end": probe_end},
    }
    if sweep:
        # The full per-query sweep goes to a FILE, not stdout: only
        # the last ~2000 chars of output are kept, and a 180-entry line
        # pushes its own opening brace out of that window.
        out["sweep_total"] = round(sum(sweep.values()), 4)
        out["sweep_n"] = len(sweep)
        out["sweep_slowest"] = dict(
            sorted(sweep.items(), key=lambda kv: -kv[1])[:5]
        )
        sweep_path = os.path.join(
            os.path.dirname(os.path.abspath(__file__)), "BENCH_SWEEP.json"
        )
        with open(sweep_path, "w") as fh:
            json.dump({"sf": sf_val, "queries": sweep}, fh, indent=1, sort_keys=True)
    line = json.dumps(out)
    # Belt-and-braces: never exceed the driver's tail window. If the
    # headline set ever grows past it, drop per-query detail from
    # stdout (it is still in BENCH_SWEEP.json).
    if len(line) > 1900:
        out.pop("sweep_slowest", None)
        line = json.dumps(out)
        if len(line) > 1900:
            out["queries"] = {}
            line = json.dumps(out)
    print(line)


if __name__ == "__main__":
    main()
