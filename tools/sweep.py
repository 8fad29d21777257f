#!/usr/bin/env python
"""One runner for every correctness sweep.

An axis is a small declaration: a source directory, an optional
dataset transform (a *variant*, materialized once into a cached
directory), a family prefix filter, a record kind and an artifact.
Every axis runs the same loop: select the queries, keep one md5 shard
of them, run each query once in one Spark session, stamp every record
with the engine source digest, and merge the shards into the artifact
in registry order.

Record kinds:
- oracle: the Spark-vs-DuckDB differential in the CORRECTNESS_r*.json
  record format (tests/oracle_utils rules: column set, row count,
  exact order-insensitive values); rows-only queries record
  "no_oracle".
- layout: the canonical value hash of the result, one pass per
  (shuffle-partitions, AQE, local width) layout, each in its own
  process; the merge compares every layout against the baseline.

Usage:
    python tools/sweep.py <axis>                  # whole axis -> artifact
    python tools/sweep.py <axis> --shard I/N      # one md5 shard -> shard file
    python tools/sweep.py <axis> --merge N [--partial]
    python tools/sweep.py <axis> q1 q2 ...        # named queries, no artifact
    --src DIR overrides the axis's source directory.

Axes: sf0.01, sf0.1, nan, null, unicode, skew, invariance.
Exit codes: 0 all green; 1 a failing record or check; 2 refused
(unknown query, missing shard, query missing from the shards).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from big_data_final_project_spark.registry import catalog  # noqa: E402
from tools.check_artifacts import source_digest  # noqa: E402

# the generated sf0.001 / sf0.01 / sf0.1 corpora (TESTDATA.md)
TESTDATA = "/root/testdata"


# ---------------------------------------------------------------- variants


@dataclass(frozen=True)
class Variant:
    """A dataset transform. `tables` maps a table name to a function
    `pa.Table -> (pa.Table, stats)`; every other table is re-encoded
    unchanged, or byte-copied when `copy_unchanged`."""

    tag: str
    tables: dict
    copy_unchanged: bool = False

    def default_dir(self, src_dir: str) -> str:
        base = os.path.basename(os.path.abspath(src_dir))
        return os.path.join("/tmp", f"spark_graft_{self.tag.lower()}_{base}")


def materialize(variant: Variant, src_dir: str, out_dir: str) -> dict:
    """Write the variant of `src_dir` into `out_dir` once and return its
    stats. The cache is keyed on the source directory: a marker left by
    a different source is not trusted, the variant is rebuilt."""
    marker = os.path.join(out_dir, f"_{variant.tag}_OK")
    stats_path = os.path.join(out_dir, f"_{variant.tag}_STATS.json")
    src = os.path.abspath(src_dir)
    if os.path.exists(marker) and os.path.exists(stats_path):
        with open(stats_path) as fh:
            cached = json.load(fh)
        if cached.get("_src_dir") == src:
            return cached
        os.remove(marker)
    os.makedirs(out_dir, exist_ok=True)
    stats: dict = {"_src_dir": src}
    for name in os.listdir(src_dir):
        if not name.endswith(".parquet"):
            continue
        tbl, path = name[: -len(".parquet")], os.path.join(src_dir, name)
        fn = variant.tables.get(tbl)
        if fn is None and variant.copy_unchanged:
            shutil.copyfile(path, os.path.join(out_dir, name))
            continue
        t = pq.read_table(path)
        if fn is not None:
            t, stats[tbl] = fn(t)
        pq.write_table(t, os.path.join(out_dir, name))
    with open(stats_path, "w") as fh:
        json.dump(stats, fh)
    with open(marker, "w") as fh:
        fh.write("ok")
    return stats


def _residue_gate(*rules):
    """Rules `(col, key, mod, rem, value, label)`: rows whose `key % mod
    == rem` get `value` (None = NULL) in `col`. Keyed on the row's own
    id, so the variant is reproducible bit for bit."""

    def apply(t):
        stats: dict = {}
        for col, key, mod, rem, value, label in rules:
            mask = pa.array(np.mod(t.column(key).to_numpy(), mod) == rem)
            typ, pos = t.column(col).type, t.schema.get_field_index(col)
            fill = (
                pa.nulls(len(t), typ)
                if value is None
                else pa.array([value] * len(t), type=typ)
            )
            injected = pc.if_else(mask, fill, t.column(col))
            t = t.set_column(pos, t.schema.field(pos), injected)
            n = int(pc.sum(pc.cast(mask, "int64")).as_py())
            if label is None:
                stats[col] = {"n_rows": len(t), "n_null": n}
            else:
                entry = {"n_rows": len(t), "n_injected": n}
                stats.setdefault(col, {})[label] = entry
        return t, stats

    return apply


# NaN / ±Inf go into events.value ONLY: it is raw telemetry, where a
# sensor can emit non-finite readings; the TPC-H money columns keep
# the dsum contract (finite, <= 6 dp — functions/numeric.py).
NONFINITE = Variant("NONFINITE", {"events": _residue_gate(
    ("value", "event_id", 25, 5, float("nan"), "nan"),
    ("value", "event_id", 50, 12, float("inf"), "+inf"),
    ("value", "event_id", 50, 37, float("-inf"), "-inf"),
)})

# NULLs go into measures and attributes only: join keys, timestamps
# and embedding vectors are identities operators require non-null.
NULLED = Variant("NULLED", {
    "events": _residue_gate(
        ("value", "event_id", 20, 7, None, None),
        ("props", "event_id", 10, 3, None, None),
    ),
    "documents": _residue_gate(("lang", "doc_id", 20, 11, None, None)),
})

# Script-diverse suffixes on doc_id % 3 == 1 (variant by doc_id % 4):
# precomposed accents; combining marks + CJK; emoji + Cyrillic; Arabic
# (RTL) + a ZWJ emoji sequence.
UNICODE_SUFFIXES = [
    " café naïve résumé déjà café",
    " cafe\u0301 nai\u0308ve 数据 清洗 管道 数据",
    " \U0001f680\U0001f525\U0001f4ca данные очистка",
    " بيانات ضخمة \U0001f468\u200d\U0001f469\u200d\U0001f467 family",
]
# doc_id % 24 == 17 is replaced by unicode-only tokens, repeated so
# shingling (k >= 3 tokens) still yields a non-empty set.
UNICODE_REPLACEMENT = (
    "数据 清洗 管道 数据 清洗 \U0001f680 данные 数据 清洗 管道"
)


def _unicode_docs(t):
    """n_chars is recomputed as codepoints, which Python len, Spark
    length and DuckDB length all agree on."""
    pdf = t.to_pandas()
    texts = pdf["text"].tolist()
    appended = replaced = 0
    for i, doc_id in enumerate(pdf["doc_id"].tolist()):
        if doc_id % 24 == 17:
            texts[i] = UNICODE_REPLACEMENT
            replaced += 1
        elif doc_id % 3 == 1:
            texts[i] = texts[i] + UNICODE_SUFFIXES[doc_id % 4]
            appended += 1
    pdf["text"] = texts
    pdf["n_chars"] = [len(x) for x in texts]
    out = pa.Table.from_pandas(pdf, schema=t.schema, preserve_index=False)
    stats = {"n_rows": len(pdf), "n_appended": appended, "n_replaced": replaced}
    return out, stats


# Only the documents table changes; the others are byte copies, so
# their statistics and layout are the source's.
UNICODE = Variant("UNICODE", {"documents": _unicode_docs}, copy_unchanged=True)

ZIPF_A, SKEW_SEED = 1.5, 42


def _zipf_keys(col):
    """Remap `col` through a zipf(1.5) draw over its own key domain: the
    hottest key takes ~38% of rows, and FK domains stay intact."""

    def apply(t):
        domain = np.unique(t.column(col).to_numpy())
        rng = np.random.RandomState(SKEW_SEED)
        idx = (rng.zipf(ZIPF_A, len(t)) - 1) % len(domain)
        pos = t.schema.get_field_index(col)
        typ = t.schema.field(pos).type
        skewed = pa.array(domain[idx], type=typ)
        t = t.set_column(pos, t.schema.field(pos), skewed)
        top = np.bincount(idx).max()
        return t, {
            "skewed_col": col,
            "n_rows": len(t),
            "n_keys": int(len(domain)),
            "top_key_rows": int(top),
            "top_key_share_pct": round(100.0 * top / len(t), 1),
        }

    return apply


# One whale user, one mega supplier: the shape that breaks naive hash
# joins.
SKEWED = Variant(
    "SKEWED",
    {"events": _zipf_keys("user_id"), "lineitem": _zipf_keys("l_suppkey")},
)

# Content skew: the shuffle key of the gram/shingle families is a hash
# of document text, so relational key skew cannot reach it. A shared
# 40-token boilerplate span (licence-header shape) is planted in ~10%
# of documents; every one of its 8-grams becomes a hot cross-doc gram.
BOILER_TOKENS = (
    "all rights reserved this page is provided under the terms of "
    "service and privacy policy please contact the site administrator "
    "for permission to reproduce redistribute or modify any portion "
    "of the content displayed on this website thank you kindly"
)
BOILER_DOC_MOD = 10


def _boilerplate_docs(t):
    df = t.to_pandas()
    mask = df["doc_id"] % BOILER_DOC_MOD == 0
    df.loc[mask, "text"] = BOILER_TOKENS + " " + df.loc[mask, "text"]
    df["n_chars"] = df["text"].str.len().astype("int64")
    n_tok = len(BOILER_TOKENS.split())
    return pa.Table.from_pandas(df, preserve_index=False).cast(t.schema), {
        "planted_docs": int(mask.sum()),
        "n_docs": len(df),
        "boiler_tokens": n_tok,
        "hot_8gram_occurrences": int(mask.sum()) * (n_tok - 7),
    }


CONTENT = Variant("CONTENT", {"documents": _boilerplate_docs})


# ----------------------------------------------------------------- records


def oracle_record(spark, sf_dir: str, q) -> dict:
    """One query's Spark-vs-DuckDB record, CORRECTNESS_r*.json format."""
    from tests.oracle_utils import compare_frames, duck_connection

    rec: dict = dict.fromkeys(
        ("rows_match", "schema_match", "hash_match", "spark_rows", "oracle_rows", "err")
    )
    try:
        if q.oracle is None:
            rec.update(spark_rows=q.fn(spark, sf_dir).count(), err="no_oracle")
            return rec
        spark_pdf = q.fn(spark, sf_dir).toPandas()
        with duck_connection(sf_dir) as con:
            oracle_pdf = con.execute(q.oracle).fetchdf()
        problems = compare_frames(spark_pdf, oracle_pdf)
        schema_ok = not any(p.startswith("columns differ") for p in problems)
        rows_ok = schema_ok and not any(p.startswith("row count") for p in problems)
        rec.update(
            rows_match=rows_ok,
            schema_match=schema_ok,
            hash_match=not problems,
            spark_rows=len(spark_pdf),
            oracle_rows=len(oracle_pdf),
            err="; ".join(problems)[:400] or None,
        )
    except Exception as exc:  # noqa: BLE001 — recorded, not raised
        bad = False if q.oracle is not None else None
        err = f"{type(exc).__name__}: {exc}"[:400]
        rec.update(rows_match=False, schema_match=bad, hash_match=bad, err=err)
    return rec


def result_hash(pdf) -> str:
    """Canonical value hash: the oracle compare's canonicalization
    (column-name sort, row sort, dtype normalization) serialized at
    full float precision. Stable across processes."""
    from tests.oracle_utils import _canon

    payload = _canon(pdf.copy()).to_csv(index=False, float_format="%.17g")
    return hashlib.md5(payload.encode()).hexdigest()


def layout_record(spark, sf_dir: str, q) -> dict:
    rec: dict = {"hash": None, "n_rows": None, "err": None}
    try:
        pdf = q.fn(spark, sf_dir).toPandas()
        rec.update(n_rows=len(pdf), hash=result_hash(pdf))
    except Exception as exc:  # noqa: BLE001 — recorded, not raised
        rec["err"] = f"{type(exc).__name__}: {exc}"[:400]
    return rec


def _fails(records: dict) -> list[str]:
    return [n for n, r in records.items() if r["err"] not in (None, "no_oracle")]


# A query correct at 16 shuffle partitions but not at 5 or 64 is not a
# cluster-scale query: the partition count is chosen by AQE, cluster
# width and split sizing, not by the query author.
_PARTS, _AQE = "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled"
LAYOUTS: dict[str, dict[str, str]] = {
    "p16_aqe": {_PARTS: "16", _AQE: "true"},
    "p5_noaqe": {_PARTS: "5", _AQE: "false"},
    "p64_aqe": {_PARTS: "64", _AQE: "true"},
}
BASELINE = "p16_aqe"
# local[N] width per layout: the local stand-in for cluster width. It
# must be set before the session exists, hence one process per layout.
LAYOUT_CPUS = {"p16_aqe": "32", "p5_noaqe": "7", "p64_aqe": "24"}

# Output layout-bound BY CONTRACT (registry.py:12-24). A new
# layout-bound query must join this ledger with a written contract or
# fail the sweep. It still runs in every layout; only its hash is exempt.
CONTRACT_EXEMPT = {
    "sample_deterministic": (
        "seeded per-partition sampler; rows reproduce only for a fixed "
        "layout (rows-only check by contract, registry.py:12-24)"
    ),
}


def compare_layouts(by_layout: dict[str, dict], names) -> dict[str, dict]:
    """Merge the per-layout passes into one record per query."""
    out = {}
    for name in names:
        runs = {lay: by_layout[lay].get(name, {}) for lay in LAYOUTS}
        base = runs[BASELINE]
        digests = {r.get("source_digest") for r in runs.values()}
        one_tree = len(digests) == 1
        rec: dict = {
            "baseline_hash": base.get("hash"),
            "n_rows": base.get("n_rows"),
            "exempt": name in CONTRACT_EXEMPT,
            "layouts": {},
            "err": base.get("err"),
            "source_digest": base.get("source_digest") if one_tree else None,
        }
        # passes from different trees would compare hashes of different code
        if not one_tree:
            rec["err"] = (
                "layout passes ran at different source states: "
                f"{sorted(str(d)[:12] for d in digests)}"
            )
        # absent from the baseline must fail, not pass by None == None
        if not base:
            rec["err"] = "missing from baseline shard — rerun the layouts"
        for lay, r in runs.items():
            if lay != BASELINE:
                r_err = r.get("err") if r else "missing from layout shard"
                same = r.get("hash") == base.get("hash")
                match = r_err is None and base.get("err") is None and same
                rec["layouts"][lay] = {"hash_match": bool(match), "err": r_err}
        out[name] = rec
    return out


def _layout_fails(records: dict) -> list[str]:
    return [
        n
        for n, r in records.items()
        if r["err"] is not None
        or any(
            x["err"] is not None or not (x["hash_match"] or r["exempt"])
            for x in r["layouts"].values()
        )
    ]


# -------------------------------------------------------------------- axes


def _git_head() -> str:
    return subprocess.run(
        ["git", "rev-parse", "HEAD"], cwd=REPO, capture_output=True, text=True
    ).stdout.strip()


def _sf_header(axis, src, stats, records, probes) -> dict:
    """The CORRECTNESS_r*.json artifact format, over the whole registry."""
    return {
        "sf": float(os.path.basename(src.rstrip("/")).replace("sf", "")),
        "n_queries": len(records["queries"]),
        "commit": _git_head(),
        "generated_unix": int(time.time()),
    }


def _variant_header(stats_key: str):
    def header(axis, src, stats, records, probes) -> dict:
        fails = _fails(records["queries"])
        return {
            "src": src,
            stats_key: stats["queries"],
            "families": list(axis.families),
            "n_queries": len(records["queries"]),
            "n_fail": len(fails),
            "fails": fails,
        }

    return header


def _skew_probes(spark, dirs) -> dict:
    # imported late: skew_probes imports query modules directly, which
    # must not run before the registry loads them in canonical order
    from tools import skew_probes

    return skew_probes.run_probes(spark, dirs)


def _skew_header(axis, src, stats, records, probes) -> dict:
    from tools import skew_probes

    content_fails = _fails(records["content"]) + skew_probes.probe_fails(probes)
    fails = _fails(records["queries"]) + [f"content:{n}" for n in content_fails]
    return {
        "src": src,
        "skew": stats["queries"],
        "zipf_a": ZIPF_A,
        "seed": SKEW_SEED,
        "families": list(axis.families),
        "n_queries": len(records["queries"]) + len(records["content"]),
        "n_fail": len(fails),
        "fails": fails,
        "aqe": probes["aqe"],
        "content": {
            "families": list(axis.legs["content"][1]),
            "boiler_doc_mod": BOILER_DOC_MOD,
            "stats": stats["content"],
            "hot_path_probe": probes["hot_path_probe"],
            "pair_volume_probe": probes["pair_volume_probe"],
            "zipf_shingle_volume_probe": probes["zipf_shingle_volume_probe"],
            "n_queries": len(records["content"]),
            "n_fail": len(content_fails),
            "queries": records["content"],
        },
    }


def _invariance_header(axis, src, stats, records, probes) -> dict:
    fails = _layout_fails(records["queries"])
    return {
        "src": src,
        "baseline": BASELINE,
        "layouts": {
            k: {**v, "local_cpus": LAYOUT_CPUS[k]} for k, v in LAYOUTS.items()
        },
        "contract_exempt": CONTRACT_EXEMPT,
        "n_queries": len(records["queries"]),
        "n_fail": len(fails),
        "fails": fails,
        "generated_unix": int(time.time()),
    }


@dataclass(frozen=True)
class Axis:
    artifact: str
    src: str
    header: Callable  # (axis, src, stats, records, probes) -> artifact fields
    variant: Variant | None = None
    families: tuple[str, ...] = ()  # name prefixes; () = whole registry
    kind: str = "oracle"  # or "layout"
    commit: bool = False  # records also carry the git commit
    partial: bool = False  # --merge --partial may overlay the committed artifact
    legs: dict = field(default_factory=dict)  # more (variant, families) record sets
    probes: Callable | None = None  # (spark, dir per leg) -> dict, with shard 0

    def all_legs(self) -> dict:
        return {"queries": (self.variant, self.families), **self.legs}


SF001, SF01 = f"{TESTDATA}/sf0.01", f"{TESTDATA}/sf0.1"
AXES = {
    # the contract scale (__spark_entry__), then 10x: overflow,
    # sketch-regime and interpolation bugs that only appear above sf0.01
    "sf0.01": Axis("CORRECTNESS_SWEEP.json", SF001, _sf_header,
                   commit=True, partial=True),
    "sf0.1": Axis("CORRECTNESS_SF01.json", SF01, _sf_header, commit=True),
    # families that read events.value as a metric, label or weight
    "nan": Axis("NAN_SWEEP.json", SF01, _variant_header("nonfinite_injection"),
                NONFINITE, ("agg_", "ts_", "window_", "events_", "ml_", "ab_")),
    # families that read the nulled columns; dedup_ reads documents.lang
    "null": Axis("NULL_SWEEP.json", SF01, _variant_header("null_injection"),
                 NULLED, ("agg_", "ts_", "window_", "scalar_", "text_",
                          "events_", "null_", "dedup_")),
    # families that read documents.text
    "unicode": Axis("UNICODE_SWEEP.json", SF01,
                    _variant_header("unicode_injection"), UNICODE,
                    ("text_", "dedup_", "curation_", "pipeline_", "sample_")),
    # key-skew families join on the remapped keys; the content leg's
    # families shuffle on text-derived keys
    "skew": Axis("SKEW_SWEEP.json", SF01, _skew_header,
                 SKEWED, ("join_", "graph_", "dedup_", "tpch_"),
                 legs={"content": (CONTENT, ("dedup_", "text_", "curation_"))},
                 probes=_skew_probes),
    "invariance": Axis("INVARIANCE_SWEEP.json", SF001, _invariance_header,
                       kind="layout"),
}


# ------------------------------------------------------------------ runner


def select(cat, families, shard: int = 0, n_shards: int = 1) -> list[str]:
    """Registry-order names matching `families`, in md5 shard `shard`."""
    return [
        n
        for n in cat
        if n.startswith(families or "")
        and int(hashlib.md5(n.encode()).hexdigest(), 16) % n_shards == shard
    ]


def shard_path(root: str, axis: Axis, shard: int, n: int, layout=None) -> str:
    stem = axis.artifact[: -len(".json")] + (f".{layout}" if layout else "")
    return os.path.join(root, f"{stem}.shard{shard}of{n}.json")


def run_pass(axis_name: str, src: str, shard: int, n: int, names=(), layout=None):
    """Run one shard (or the named queries) of an axis in this process.
    Writes the shard file unless queries were named; 1 on any failure."""
    from big_data_final_project_spark.session import get_spark

    axis, cat = AXES[axis_name], catalog()
    if layout:
        os.environ["SPARK_GRAFT_CPUS"] = LAYOUT_CPUS[layout]
    spark = get_spark(app_name=f"sweep_{axis_name}", shuffle_partitions=16)
    for k, v in LAYOUTS.get(layout, {}).items():
        spark.conf.set(k, v)
    record = layout_record if axis.kind == "layout" else oracle_record
    stamp = {"commit": _git_head()[:12]} if axis.commit else {}
    stamp["source_digest"] = source_digest()
    dirs, stats, records = {}, {}, {}
    for leg, (variant, _) in axis.all_legs().items():
        dirs[leg] = src if variant is None else variant.default_dir(src)
        if variant is not None:
            stats[leg] = materialize(variant, src, dirs[leg])
            print(f"variant {dirs[leg]}: {json.dumps(stats[leg])}", flush=True)
    # the probes run before any record: a record's session-cached build
    # must not stand in for a probe's own run
    probes = None
    if axis.probes and shard == 0 and not names:
        probes = axis.probes(spark, dirs)
    for leg, (_, families) in axis.all_legs().items():
        todo = names or select(cat, families, shard, n)
        label = f"{axis_name}:{layout or leg}"
        records[leg] = {}
        for i, name in enumerate(todo):
            t0 = time.time()
            rec = {**record(spark, dirs[leg], cat[name]), **stamp}
            records[leg][name] = rec
            ok = rec["err"] in (None, "no_oracle")
            print(
                f"[{label} {i + 1}/{len(todo)}] {name} {time.time() - t0:.1f}s "
                f"{'ok' if ok else 'FAIL ' + str(rec['err'])}",
                flush=True,
            )
    n_fail = sum(len(_fails(r)) for r in records.values())
    print(f"DONE {axis_name} shard {shard}/{n}: {n_fail} failures", flush=True)
    if not names:
        shard_file = {"stats": stats, "records": records, "probes": probes}
        with open(shard_path(REPO, axis, shard, n, layout), "w") as fh:
            json.dump(shard_file, fh, indent=1, sort_keys=True)
    return 1 if n_fail else 0


def merge(axis_name: str, n: int, src: str, partial=False, root: str = REPO) -> int:
    """Merge `n` shard files into the artifact, in registry order.
    Refuses (2) a missing shard unless `partial`, and a query missing
    from every shard. Shard files are kept when anything failed."""
    axis, cat = AXES[axis_name], catalog()
    passes = list(LAYOUTS) if axis.kind == "layout" else [None]
    paths = {
        (lay, i): shard_path(root, axis, i, n, lay) for lay in passes for i in range(n)
    }
    missing = sorted(p for p in paths.values() if not os.path.exists(p))
    if missing and not partial:
        print(f"missing shards {missing}; rerun them", file=sys.stderr)
        return 2
    shards = {}
    for key, path in paths.items():
        if os.path.exists(path):
            with open(path) as fh:
                shards[key] = json.load(fh)
    if not shards:
        print("no shard artifacts found", file=sys.stderr)
        return 2
    merged = {(lay, leg): {} for lay in passes for leg in axis.all_legs()}
    if partial:
        with open(os.path.join(root, axis.artifact)) as fh:
            merged[None, "queries"].update(json.load(fh)["queries"])
    for (lay, _), s in shards.items():
        for leg, recs in s["records"].items():
            merged[lay, leg].update(recs)
    records = {}
    for leg, (_, families) in axis.all_legs().items():
        names = select(cat, families)
        seen = set().union(*(merged[lay, leg] for lay in passes))
        absent = [q for q in names if q not in seen]
        if absent:
            print(f"queries missing from shards: {absent}", file=sys.stderr)
            return 2
        if axis.kind == "layout":
            by_layout = {lay: merged[lay, leg] for lay in passes}
            records[leg] = compare_layouts(by_layout, names)
        else:
            records[leg] = {q: merged[None, leg][q] for q in names}
    stats = next(iter(shards.values()))["stats"]
    probes = next((s["probes"] for s in shards.values() if s["probes"]), None)
    art = {
        **axis.header(axis, src, stats, records, probes),
        "source_digest": source_digest(),
        "queries": records["queries"],
    }
    with open(os.path.join(root, axis.artifact), "w") as fh:
        json.dump(art, fh, indent=1)
    fails = art.get("fails", _fails(records["queries"]))
    print(
        f"{axis.artifact}: {art['n_queries']} queries, {len(fails)} failures"
        f"{': ' + str(fails) if fails else ''}"
    )
    if fails:
        print(f"shards kept for debugging: {sorted(paths[k] for k in shards)}")
        return 1
    for key in shards:
        os.remove(paths[key])
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one correctness sweep axis.")
    ap.add_argument("axis", choices=AXES)
    ap.add_argument("queries", nargs="*", help="run only these; write no artifact")
    ap.add_argument("--src", help="source data directory (default: the axis's)")
    ap.add_argument("--shard", default="0/1", help="I/N: run md5 shard I of N only")
    ap.add_argument("--merge", type=int, metavar="N", help="merge N shard files")
    ap.add_argument(
        "--partial", action="store_true", help="overlay onto the committed (sf0.01)"
    )
    ap.add_argument("--layout", choices=LAYOUTS, help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    axis = AXES[args.axis]
    src = args.src or axis.src
    if args.partial and not axis.partial:
        ap.error(f"--partial is not available for {args.axis}")
    if args.merge:
        return merge(args.axis, args.merge, src, args.partial)
    if args.queries and axis.kind == "layout":
        ap.error("named queries need an oracle axis")
    unknown = [q for q in args.queries if q not in catalog()]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2
    shard, n = map(int, args.shard.split("/"))
    if axis.kind == "layout" and not args.layout:
        # One subprocess per layout (--layout): streaming/storage scratch
        # dirs are per PID, so a pass in this process would resume the
        # previous layout's checkpoints; the width is fixed at session
        # start too.
        rc = 0
        for lay in LAYOUTS:
            rc |= subprocess.call(
                [sys.executable, os.path.abspath(__file__), args.axis]
                + ["--layout", lay, "--shard", args.shard, "--src", src]
            )
    else:
        rc = run_pass(args.axis, src, shard, n, args.queries, args.layout)
    if args.queries or args.layout or n > 1:
        return rc
    return merge(args.axis, 1, src) or rc


if __name__ == "__main__":
    raise SystemExit(main())
