#!/usr/bin/env python
"""Optimization measurement harness: cold timings plus plans.

For each named query (default: bench.py's HEADLINE list):
  * times N noop-sink executions with the session-scoped intermediate
    cache CLEARED before every run, so each timing pays the query's
    full build cost — bench.py's best-of-N leaves the cache warm
    between repeats, which hides exactly the build work an
    optimization needs to see (bench.best_of's stall guard applies);
  * records best / all runs;
  * writes .explain('formatted') to plans/<round>/<query>_<tag>.txt.

Usage:
    python tools/opt_measure.py <tag> [n_runs] [query ...]
        tag: suffix for the plan files (e.g. 'before', 'after')
        env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
             SPARK_GRAFT_CPUS, OPT_MEASURE_SKIP_PLANS=1,
             OPT_MEASURE_ROUND (plans subdir, default r13)
Writes /tmp/opt_measure_<tag>.json with the timings.
"""

from __future__ import annotations

import io
import json
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_final_project_spark.registry import catalog  # noqa: E402
from big_data_final_project_spark.session import get_spark  # noqa: E402

import bench  # noqa: E402


def main() -> None:
    tag = sys.argv[1] if len(sys.argv) > 1 else "probe"
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name=f"opt-measure-{tag}")
    cat = catalog()
    names = sys.argv[3:] or [n for n in bench.HEADLINE if n in cat]
    unknown = [n for n in names if n not in cat]
    if unknown:
        sys.exit(f"unknown queries (not in catalog): {unknown}")
    if not names:
        sys.exit("no queries to measure (HEADLINE/catalog intersection empty)")

    plans_dir = os.path.join(REPO, "plans", os.environ.get("OPT_MEASURE_ROUND", "r13"))
    os.makedirs(plans_dir, exist_ok=True)
    bench.warm_up(spark, cat[names[0]].fn(spark, sf_dir))

    out: dict[str, dict] = {}
    for name in names:
        if os.environ.get("OPT_MEASURE_SKIP_PLANS") != "1":
            bench.clear_session_cache()
            buf = io.StringIO()
            with redirect_stdout(buf):
                cat[name].fn(spark, sf_dir).explain("formatted")
            with open(os.path.join(plans_dir, f"{name}_{tag}.txt"), "w") as fh:
                fh.write(buf.getvalue())

        def cold() -> None:
            bench.clear_session_cache()
            spark.sparkContext.setJobDescription(f"opt:{tag}:{name}")

        def run() -> None:
            bench.noop(cat[name].fn(spark, sf_dir))

        runs = [round(r, 4) for r in bench.best_of(run, n_runs, cold)]
        spark.sparkContext.setJobDescription(None)
        out[name] = {"best": min(runs), "runs": runs}
        print(f"{name}: best={min(runs)} runs={runs}", flush=True)

    path = f"/tmp/opt_measure_{tag}.json"
    with open(path, "w") as fh:
        json.dump({"sf_dir": sf_dir, "n_runs": n_runs, "queries": out}, fh, indent=1)
    print("wrote", path)


if __name__ == "__main__":
    main()
