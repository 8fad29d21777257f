"""The skew axis's four checks, run once per skew sweep (shard 0).

Each probe returns a dict that goes into SKEW_SWEEP.json verbatim;
`probe_fails` in tools/sweep.py turns their pass flags into failures.

- `aqe_probe`: AQE's OptimizeSkewedJoin splits the zipf-hot partition
  of a fact x dim shuffle join.
- `content_hot_path_probe`: the gram-keyed dedup family's salted
  hot-key path engages on planted boilerplate and leaves results
  unchanged.
- `pair_volume_probe`: the pair generators' candidate volume against
  the unfiltered inverted-index join on the boilerplate corpus.
- `zipf_shingle_volume_probe`: the strict-tau prefix cut and the
  containment df-cap recall on a seeded zipf shingle corpus.

This module imports query modules directly, so import it only after
`registry.catalog()` has loaded them in their canonical order.
"""

from __future__ import annotations

from contextlib import contextmanager

import numpy as np
from pyspark.sql import functions as F

from big_data_final_project_spark.data import load_table
from big_data_final_project_spark.operators.salting import (
    SKEW_BROADCAST_ROWS_CONF,
    SKEW_HOT_THRESHOLD_CONF,
    SKEW_N_SALTS_CONF,
    _fair_share_threshold,
)
from big_data_final_project_spark.queries.dedup import (
    CONTAINMENT_CAP_OFF_CONF,
    CONTAINMENT_DF_FLOOR,
    CONTAINMENT_STOP_DIV,
    _containment_candidate_hits,
    _containment_verified,
    _jaccard_candidate_hits,
    _shingle_index,
    dedup_containment,
)
from big_data_final_project_spark.registry import catalog


@contextmanager
def session_confs(spark, confs: dict):
    """Set session confs for the block, then restore each one (unset
    when it was unset before)."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def content_hot_path_probe(spark, out_dir: str) -> dict:
    """Prove the gram-keyed dedup family's conditional-salting skew
    path ENGAGES on planted boilerplate and does not change results.

    With spark.bdfp.skew.hotThreshold lowered beneath the planted
    gram frequency (at 100 TB the DEFAULT 65536 fires on the same
    shape — a boilerplate spanning 10% of a web corpus has >>1e6
    occurrences per gram), each gram-family query is run twice —
    default threshold (all-cold routing) vs lowered (planted grams
    hot) — and must return identical rows. Also records the number
    of hot grams the flag aggregate actually sees, and why AQE could
    not have done this: the byte-compressed hot partition stays under
    OptimizeSkewedJoin's size thresholds (SCALE.md)."""
    cat = catalog()
    names = [
        "dedup_exact_substr_spans",
        "dedup_exact_substr_coverage",
        "dedup_substring_windows",
        "curation_span_cut",
    ]
    # beneath the planted frequency (BOILER in ~n_docs/10 documents →
    # each boilerplate 8-gram occurs ~n_docs/10 times = 500 at sf0.1),
    # so the planted grams — and only content-hot grams — go HOT
    lowered = 256

    # hot grams visible to the flag aggregate at the lowered threshold
    d = load_table(spark, out_dir, "documents")
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    g = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 8 THEN transform(sequence(1, size(t)-7),"
                " i -> xxhash64(concat_ws(' ', slice(t, i, 8))))"
                " ELSE CAST(array() AS array<bigint>) END"
            )
        ).alias("wh"),
    )
    counts = g.groupBy("wh").agg(F.count("*").alias("n"))
    n_hot = counts.where(F.col("n") > lowered).count()
    top = counts.agg(F.max("n").alias("m")).collect()[0]["m"]

    def run_all():
        return {
            n: sorted(map(tuple, cat[n].fn(spark, out_dir).collect()))
            for n in names
        }

    base = run_all()
    lowered_confs = {SKEW_HOT_THRESHOLD_CONF: str(lowered), SKEW_N_SALTS_CONF: "8"}
    with session_confs(spark, lowered_confs):
        hot = run_all()

    # AUTO leg: no threshold conf at all — emulate the
    # 100 TB regime instead: shuffle.partitions=4096 (cluster
    # parallelism, so a partition's fair share of the dup-gram rows
    # drops beneath the planted gram's frequency) and broadcastRows=0
    # (a gram dictionary too big to broadcast, which is what makes the
    # salted shuffle path the live one at scale). auto_hot_threshold()
    # must then detect the hot set from exact build counts alone, and
    # results must equal the default run.
    # Record the auto threshold from the SAME build each query
    # actually passes to salted_skew_join.
    # dedup_substring_windows feeds the FULL gram dictionary
    # (count = total window occurrences); the exact-substr family
    # feeds the CROSS-DOC flag rows only.
    total_all = counts.agg(F.sum("n")).collect()[0][0] or 0
    thr_full = _fair_share_threshold(int(total_all), 4096)
    n_hot_full = counts.where(F.col("n") > thr_full).count()
    xdoc = g.groupBy("wh").agg(
        (F.min("doc_id") != F.max("doc_id")).alias("xdoc"),
        F.count("*").alias("n"),
    ).where("xdoc")
    total_xdoc = xdoc.agg(F.sum("n")).collect()[0][0] or 0
    thr_xdoc = _fair_share_threshold(int(total_xdoc), 4096)
    n_hot_xdoc = xdoc.where(F.col("n") > thr_xdoc).count()
    scale_confs = {
        "spark.sql.shuffle.partitions": "4096",
        SKEW_BROADCAST_ROWS_CONF: "0",
    }
    with session_confs(spark, scale_confs):
        auto = run_all()
    return {
        "lowered_hot_threshold": lowered,
        "n_hot_grams": int(n_hot),
        "top_gram_occurrences": int(top),
        "hot_path_identical": {n: base[n] == hot[n] for n in names},
        # per-build auto decisions at 4096 partitions — what each
        # query's salted_skew_join derives on its own build
        "auto_threshold_full_dict_at_4096_parts": thr_full,
        "n_hot_grams_auto_full_dict": int(n_hot_full),
        "auto_threshold_xdoc_at_4096_parts": thr_xdoc,
        "n_hot_grams_auto_xdoc": int(n_hot_xdoc),
        "auto_path_identical": {n: base[n] == auto[n] for n in names},
    }


def pair_volume_probe(spark, out_dir: str) -> dict:
    """Candidate-VOLUME evidence (the value sweep
    alone cannot see a blowup — f² waste returns correct rows): on
    the planted-boilerplate corpus, count the pair generators'
    candidate hits and compare against the unfiltered inverted-index
    volume (sum over (shingle, block) of C(f, 2) — exactly what the
    unfiltered self-join materializes).

    Pass criteria:
      * jaccard_reduced — the lossless prefix+position route emits
        strictly fewer hits than the unfiltered join;
      * containment_bounded — every hit comes from an eligible
        (df <= cap) shingle, so the total is <= cap/2 * occurrences,
        LINEAR in corpus size; the planted boilerplate shingles
        (df ~ nd/10 > nd/20) are stop-shingles in every block that
        reaches the floor and contribute ZERO hits.
    """
    docs, ex = _shingle_index(spark, out_dir)
    df_tab = ex.groupBy("lang", "len_bucket", "s").agg(
        F.count(F.lit(1)).alias("df")
    )
    blk = docs.groupBy("lang", "len_bucket").agg(
        F.count(F.lit(1)).alias("nd")
    )
    row = (
        df_tab.join(blk, ["lang", "len_bucket"])
        .agg(
            F.sum(F.expr("df * (df - 1) div 2")).alias("unfiltered_hits"),
            F.sum("df").alias("occurrences"),
            F.max("df").alias("max_df"),
            F.sum(
                F.when(
                    F.col("df")
                    > F.greatest(
                        F.lit(CONTAINMENT_DF_FLOOR),
                        F.expr(f"nd div {CONTAINMENT_STOP_DIV}"),
                    ),
                    F.lit(1),
                ).otherwise(F.lit(0))
            ).alias("n_stop_shingle_blocks"),
            F.max("nd").alias("max_nd"),
        )
        .first()
    )
    jac_hits = _jaccard_candidate_hits(docs, ex).count()
    jac_hits_strict = _jaccard_candidate_hits(docs, ex, 1, 2).count()
    con_hits = _containment_candidate_hits(docs, ex).count()
    cap = max(
        CONTAINMENT_DF_FLOOR, int(row["max_nd"]) // CONTAINMENT_STOP_DIV
    )
    bound = cap * int(row["occurrences"]) // 2
    # The capped screen's TRUE-PAIR recall, per run — the
    # cap-off conf restores the lossless screen as ground truth and
    # the ratio records exactly how much the df-cap gives up on this
    # corpus (the dropped pairs share only stop-shingles by
    # construction of the rule).
    pairs = lambda df: {(r["doc_a"], r["doc_b"]) for r in df.collect()}
    capped_pairs = pairs(dedup_containment(spark, out_dir))
    with session_confs(spark, {CONTAINMENT_CAP_OFF_CONF: "true"}):
        truth_pairs = pairs(dedup_containment(spark, out_dir))
    return {
        "unfiltered_hits": int(row["unfiltered_hits"]),
        "jaccard_hits": int(jac_hits),
        "jaccard_hits_strict_tau": int(jac_hits_strict),
        "containment_hits": int(con_hits),
        "n_stop_shingle_blocks": int(row["n_stop_shingle_blocks"]),
        "max_df": int(row["max_df"]),
        "containment_cap_max_block": cap,
        "containment_volume_bound": bound,
        "jaccard_reduced": bool(jac_hits < int(row["unfiltered_hits"])),
        "jaccard_strict_reduced": bool(jac_hits_strict < jac_hits),
        "containment_bounded": bool(con_hits <= bound),
        "containment_recall_pairs": f"{len(capped_pairs)}/{len(truth_pairs)}",
        "containment_capped_is_subset": bool(capped_pairs <= truth_pairs),
    }


def _shingle_frames(spark, rows):
    """(docs, exploded shingles) in the shape the pair generators take."""
    docs = spark.createDataFrame(
        [(i, "xx", 0, sh, len(sh)) for i, sh in rows],
        "doc_id long, lang string, len_bucket long, shh array<bigint>, n int",
    )
    ex = docs.select(
        "doc_id", "lang", "len_bucket", "n", F.explode("shh").alias("s")
    ).withColumn("m", F.md5(F.col("s").cast("string")))
    return docs, ex


def zipf_shingle_volume_probe(spark) -> dict:
    """Strict-tau prefix power on ZIPF-distributed shingles: the
    parquet corpus's background
    df is uniform-dense, which UNDERSTATES the prefix filter — on
    natural text the df distribution is zipf and the boilerplate-class
    shingles that explode Σ C(df,2) are exactly the ones df-ordering
    pushes out of prefixes. This probe builds a reproducible
    zipf(a=1.2) shingle corpus (4,000 docs x ~80 draws over a 50k
    universe, seed 7, plus 20 planted near-dup pairs), runs both
    registered taus' generators, and records the cut. Pass criteria:
    the strict screen's relative volume is smaller than the loose
    screen's, every planted pair survives the strict prefix filter
    (losslessness spot check on zipf data), and the strict cut beats
    the loose cut by at least 2x on this df shape."""
    rng = np.random.RandomState(7)
    n_docs, universe = 4000, 50_000
    rows = []
    for i in range(1, n_docs + 1):
        sh = sorted(set((rng.zipf(1.2, 80) - 1) % universe))
        rows.append((i, [int(x) for x in sh]))
    # planted near-dups: copy 20 docs with one shingle changed
    planted = []
    for j in range(20):
        src_id, sh = rows[j * 50]
        mut = sorted(set(sh[:-1] + [universe + j]))
        nid = n_docs + 1 + j
        rows.append((nid, [int(x) for x in mut]))
        planted.append((src_id, nid))
    docs, ex = _shingle_frames(spark, rows)
    unfiltered = int(
        ex.groupBy("lang", "len_bucket", "s")
        .agg(F.count(F.lit(1)).alias("df"))
        .agg(F.sum(F.expr("df * (df - 1) div 2")))
        .first()[0]
    )
    loose = int(_jaccard_candidate_hits(docs, ex).count())
    strict_hits = _jaccard_candidate_hits(docs, ex, 1, 2)
    strict = int(strict_hits.count())
    cand = {
        (r["doc_a"], r["doc_b"])
        for r in strict_hits.select("doc_a", "doc_b").distinct().collect()
    }
    planted_found = sum(1 for p in planted if p in cand)
    loose_ratio = loose / max(unfiltered, 1)
    strict_ratio = strict / max(unfiltered, 1)

    # Containment df-cap recall on the SAME zipf corpus: plant 20
    # subset pairs (child = a 20-shingle slice of a parent, true
    # containment = 1.0 by
    # construction, so ground truth is free — no 87M-hit uncapped
    # join needed) and ask how many the CAPPED screen finds. Two
    # child flavors measure the mechanism: 'common' children slice
    # the parent's most-frequent (lowest-id ≈ zipf-hottest) shingles
    # — the boilerplate-wrapped shape the cap is expected to miss —
    # while 'rare' children slice the rarest; the pair (found_rare
    # high, found_common low) is the zipf recall statement.
    sub_rows, sub_common, sub_rare = [], [], []
    for j in range(10):
        src_id, sh = rows[j * 97]
        if len(sh) < 40:
            continue
        cid = n_docs + 100 + j
        sub_rows.append((cid, [int(x) for x in sh[:20]]))  # hottest slice
        sub_common.append((src_id, cid))
        rid = n_docs + 200 + j
        sub_rows.append((rid, [int(x) for x in sh[-20:]]))  # rarest slice
        sub_rare.append((src_id, rid))
    docs2, ex2 = _shingle_frames(spark, rows + sub_rows)
    capped_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in _containment_verified(
            docs2, _containment_candidate_hits(docs2, ex2).distinct()
        )
        .select("doc_a", "doc_b")
        .collect()
    }
    key = lambda p: (min(p), max(p))
    found_common = sum(1 for p in sub_common if key(p) in capped_pairs)
    found_rare = sum(1 for p in sub_rare if key(p) in capped_pairs)

    return {
        "n_docs": n_docs + len(planted),
        "zipf_a": 1.2,
        "unfiltered_hits": unfiltered,
        "jaccard_hits": loose,
        "jaccard_hits_strict_tau": strict,
        "loose_ratio_ppm": int(loose_ratio * 1_000_000),
        "strict_ratio_ppm": int(strict_ratio * 1_000_000),
        "planted_pairs": len(planted),
        "planted_found_strict": int(planted_found),
        "strict_lossless_on_planted": planted_found == len(planted),
        "strict_beats_loose_2x": strict_ratio * 2 <= loose_ratio,
        "containment_subset_pairs": {
            "planted_common": len(sub_common),
            "found_common_slice": int(found_common),
            "planted_rare": len(sub_rare),
            "found_rare_slice": int(found_rare),
            # the cap must still find rare-shingle subset dups on
            # zipf df; common-slice misses are the documented trade
            "rare_slice_recall_ok": found_rare == len(sub_rare),
        },
    }


def aqe_probe(spark, out_dir: str) -> dict:
    """Join the zipf-skewed ``lineitem`` (top l_suppkey ~38% of rows)
    against ``supplier`` (broadcast disabled) with the AQE skew-join
    thresholds scaled to this data's bytes — at 100 TB the DEFAULT
    256 MB threshold fires on the same shape — and return whether
    OptimizeSkewedJoin split the hot partition.

    Two probe subtleties, both discovered the hard way:
    - The skew annotation only exists in the FINAL adaptive plan, so
      execution must be triggered through the SAME QueryExecution
      that is inspected (``collect()`` on the DataFrame, not a write,
      which builds its own QueryExecution and leaves the inspected
      one ``isFinalPlan=false``).
    - A self-join shape (table join its own groupBy) never splits:
      the aggregate side's hash output partitioning cannot be
      duplicated per skew-slice without re-aggregation, so
      OptimizeSkewedJoin skips it. Two distinct tables are the
      representative 100 TB shape anyway (fact x dim).
    """
    lowered = {
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "131072",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32768",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    with session_confs(spark, lowered):
        li = load_table(spark, out_dir, "lineitem").select(
            "l_suppkey", "l_extendedprice"
        )
        su = load_table(spark, out_dir, "supplier").select(
            "s_suppkey", "s_nationkey"
        )
        joined = (
            li.join(su, li.l_suppkey == su.s_suppkey)
            .groupBy("s_nationkey")
            .count()
        )
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        return {
            "skew_split_observed": "skew=true" in plan,
            "join_node": next(
                (
                    ln.strip()
                    for ln in plan.splitlines()
                    if "SortMergeJoin" in ln or "ShuffledHashJoin" in ln
                ),
                None,
            ),
            "thresholds": {
                "skewedPartitionThresholdInBytes": 131072,
                "advisoryPartitionSizeInBytes": 32768,
            },
        }


def run_probes(spark, dirs: dict) -> dict:
    """All four probes, keyed as SKEW_SWEEP.json stores them. `dirs`
    holds the zipf variant ("queries") and the content variant."""
    probes = {
        "aqe": aqe_probe(spark, dirs["queries"]),
        "hot_path_probe": content_hot_path_probe(spark, dirs["content"]),
        "pair_volume_probe": pair_volume_probe(spark, dirs["content"]),
        "zipf_shingle_volume_probe": zipf_shingle_volume_probe(spark),
    }
    for key, value in probes.items():
        print(f"{key}: {value}", flush=True)
    return probes


def probe_fails(probes: dict) -> list[str]:
    """The probes' pass rules, as content-leg failure names."""
    pair, zipf = probes["pair_volume_probe"], probes["zipf_shingle_volume_probe"]
    checks = (
        (pair["jaccard_reduced"], "pair_volume:jaccard_not_reduced"),
        (pair["containment_bounded"], "pair_volume:containment_unbounded"),
        (zipf["strict_lossless_on_planted"], "zipf_volume:planted_pair_lost"),
        (zipf["strict_beats_loose_2x"], "zipf_volume:strict_cut_too_weak"),
        (
            zipf["containment_subset_pairs"]["rare_slice_recall_ok"],
            "zipf_volume:rare_subset_pair_lost",
        ),
    )
    fails = [name for ok, name in checks if not ok]
    for leg in ("hot_path_identical", "auto_path_identical"):
        same = probes["hot_path_probe"][leg]
        fails += [f"{leg}:{n}" for n, ok in same.items() if not ok]
    return fails
