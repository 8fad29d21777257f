#!/usr/bin/env python
"""Persisted solo floor-of-N bench for the standing watch list, so a
cross-round perf claim rests on numbers that can be re-checked. This
tool measures each watch-list query ALONE (best-of-N noop executions,
nothing else running) plus the calibration probe before and after,
and writes BENCH_SOLO.json stamped with the same source digest the
correctness sweeps carry — tools/check_artifacts.py verifies it, so
a solo claim is only citable while it matches the working tree.

Run SOLO at close-out (timing-sensitive, like bench.py):

    python tools/bench_solo.py   # env: SPARK_GRAFT_SF_DIR (default sf0.1)

Reading the artifact: compare `best` values ACROSS rounds only after
dividing by the round's probe floor (min of start/end) — the box this
runs on drifts 20-40% between rounds, and the probe is the pinned
synthetic job that measures the box, not the engine.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_final_project_spark.registry import catalog  # noqa: E402
from big_data_final_project_spark.session import get_spark  # noqa: E402
from tools.check_artifacts import source_digest  # noqa: E402

import bench  # noqa: E402

# Standing watch list: every query a headline cross-round ratio has
# ever flagged (VERDICT r10 #8; extended per VERDICT r11 #1 with the
# r11 headline "regressors" the sweep diff had to exonerate — their
# solo floors make future drift adjudicable from this artifact alone).
WATCH_LIST = [
    "join_asof",
    "window_running_sum",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_strict",
    "dedup_containment",
    "dedup_candidate_volume_audit",
    "dedup_exact_substr_spans",
    "dedup_substring_windows",
    "text_bm25_topk",
    "sim_lsh_bucketed_topk",
    # VERDICT r11 #1 additions
    "dedup_lsh_tuning",
    "graph_random_walks",
    "kmeans_lloyd_refine",
    "text_bpe_train_rounds",
    "text_cdc_chunks",
    "sim_lsh_join_topk",
    "ml_ndcg_at_k",
    # VERDICT r12 #6/#7 additions: the tpch heavies whose r12 raw
    # "regressions" could only be exonerated by judge-run probe
    # normalization (floors make that adjudicable from this artifact
    # alone), plus the two touched-family neighbors that regressed
    # raw without a code diff.
    "tpch_q1_pricing_summary",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q10_returned_items",
    "tpch_q21_waiting_suppliers",
    "sim_pq_codebook",
    "sim_ivf_topk",
]

N_RUNS = 3


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf_val = bench.sf_value(sf_dir)
    spark = get_spark(app_name="bench_solo")
    cat = catalog()
    names = [n for n in WATCH_LIST if n in cat]
    bench.warm_up(spark, cat[names[0]].fn(spark, sf_dir))

    probe_start = bench.calibration_probe(spark)
    digest = source_digest()
    queries: dict[str, dict] = {}
    for name in names:
        runs = bench.best_of(lambda: bench.noop(cat[name].fn(spark, sf_dir)), N_RUNS)
        queries[name] = {
            "best": round(min(runs), 4),
            "runs": [round(r, 4) for r in runs],
            "source_digest": digest,
        }
        print(f"{name}: best {queries[name]['best']} {queries[name]['runs']}")
    probe_end = bench.calibration_probe(spark)

    # Cross-round probe-scaled floors: each round's best is divided by
    # that round's probe floor (the box measure), and the FLOOR is the
    # min of those ratios over every round this artifact has lived
    # through — so "engine or box?" is answered by comparing a round's
    # probe-scaled best to the standing floor. The floor is carried
    # forward from the previous (digest-stamped) artifact.
    path = os.path.join(REPO, "BENCH_SOLO.json")
    prev_q: dict[str, dict] = {}
    try:
        with open(path) as fh:
            prev = json.load(fh)
        if prev.get("sf") != sf_val:  # floors are per-scale-factor
            raise ValueError("sf mismatch — start a fresh floor history")
        prev_q = prev.get("queries", {})
    except (OSError, ValueError):
        pass
    probe_floor = min(probe_start, probe_end)
    for name, rec in queries.items():
        scaled = rec["best"] / probe_floor
        floors = [scaled]
        rounds = 1
        p = prev_q.get(name)
        if p is not None and "probe_scaled_floor" in p:
            floors.append(p["probe_scaled_floor"])
            rounds += p.get("floor_rounds", 1)
        rec["probe_scaled_best"] = round(scaled, 4)
        rec["probe_scaled_floor"] = round(min(floors), 4)
        rec["floor_rounds"] = rounds

    out = {
        "metric": "watchlist_solo_best_of_n",
        "unit": "sec",
        "sf": sf_val,
        "n_queries": len(queries),
        "n_runs": N_RUNS,
        "probe_sec": {"start": probe_start, "end": probe_end},
        "source_digest": digest,
        "queries": queries,
    }
    with open(path, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
    print(f"wrote {path} (probe {probe_start}/{probe_end})")


if __name__ == "__main__":
    main()
