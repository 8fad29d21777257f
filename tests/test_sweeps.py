"""The sweep runner (tools/sweep.py): fast in-suite versions of what
the invariance and unicode axes certify at full registry width, the
variant cache, the shard merge's refusals, and the close-out command.

The full sweeps produce the *_SWEEP.json artifacts at close-out; these
tests keep the mechanisms honest every pytest run at sf0.001 cost.
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from tools import closeout, sweep
from tools.sweep import (
    CONTRACT_EXEMPT,
    LAYOUTS,
    UNICODE,
    materialize,
    result_hash,
)

SF0001 = os.path.join(sweep.TESTDATA, "sf0.001")

# Representative non-streaming slice: one query per layout-sensitive
# mechanism class (decimal-exact money sums, multi-key hash agg,
# HLL merge, windowed rank, hash-join + broadcast, LSH banding,
# inverted-index self-join, iterative graph fixpoint).
INVARIANCE_MINI = [
    "tpch_q1_pricing_summary",
    "agg_multi_key",
    "agg_approx_distinct",
    "window_topk_per_group",
    "join_inner_star",
    "dedup_minhash_pairs",
    "dedup_ngram_jaccard_strict",
    "graph_pagerank",
]

UNICODE_MINI = [
    "text_token_stats",
    "text_language_id",
    "text_quality_score",
    "dedup_exact",
    "dedup_ngram_jaccard_strict",
    "curation_pii_redact",
]


def _run_under_layout(spark, name, sf_dir, confs):
    # Drop session-cached intermediates so every layout recomputes
    # the FULL pipeline: with the shared fixture session, later
    # layouts would otherwise hash a frame the first layout
    # materialized — checkpoint reuse, not layout sensitivity (the
    # runner avoids this with one subprocess per layout).
    from big_data_final_project_spark.operators import scale as _scale

    _scale._SESSION_CACHE.clear()
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        from big_data_final_project_spark.registry import catalog

        return catalog()[name].fn(spark, sf_dir).toPandas()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", INVARIANCE_MINI)
def test_partition_invariance_mini(spark, sf_dir, name):
    """Value hash identical across (shuffle-partitions, AQE) layouts —
    the registry determinism contract's direct test (registry.py:12-24:
    decimal-exact sums, hash-gated sampling, no wall-clock)."""
    hashes = {}
    for layout, confs in LAYOUTS.items():
        pdf = _run_under_layout(spark, name, sf_dir, confs)
        hashes[layout] = result_hash(pdf)
    assert len(set(hashes.values())) == 1, (
        f"{name} is layout-bound: {hashes}"
    )


def test_contract_exempt_is_exactly_the_documented_sampler():
    """The exemption ledger must not grow silently: every entry needs
    a written contract, and today exactly one layout-bound-by-design
    query exists."""
    assert set(CONTRACT_EXEMPT) == {"sample_deterministic"}
    for reason in CONTRACT_EXEMPT.values():
        assert "registry.py" in reason


def test_unicode_variant_generation(tmp_path):
    """Injection is deterministic and keeps the n_chars==length(text)
    invariant (codepoints on Python, Spark, and DuckDB alike)."""
    import duckdb

    out = str(tmp_path / "uni")
    stats = materialize(UNICODE, SF0001, out)
    d = stats["documents"]
    assert d["n_rows"] == 500
    assert d["n_replaced"] == 21  # doc_id % 24 == 17 over 0..499
    assert d["n_appended"] == 167  # doc_id % 3 == 1 minus the replaced overlap
    con = duckdb.connect()
    bad = con.execute(
        "SELECT count(*) FROM read_parquet(?) WHERE n_chars != length(text)",
        [os.path.join(out, "documents.parquet")],
    ).fetchone()[0]
    assert bad == 0
    # multibyte actually present (byte length exceeds codepoint length)
    multi = con.execute(
        "SELECT count(*) FROM read_parquet(?) "
        "WHERE strlen(text) > length(text)",
        [os.path.join(out, "documents.parquet")],
    ).fetchone()[0]
    con.close()
    assert multi == d["n_appended"] + d["n_replaced"]


@pytest.mark.parametrize("name", UNICODE_MINI)
def test_unicode_mini_differential(spark, name, tmp_path_factory):
    """Spark == DuckDB on the unicode-injected corpus for the text /
    dedup / curation operators that consume documents.text."""
    from tests.oracle_utils import compare_frames, duck_connection

    from big_data_final_project_spark.registry import catalog

    out = str(tmp_path_factory.getbasetemp() / "uni_shared")
    materialize(UNICODE, SF0001, out)
    q = catalog()[name]
    spark_pdf = q.fn(spark, out).toPandas()
    con = duck_connection(out)
    try:
        oracle_pdf = con.execute(q.oracle).fetchdf()
    finally:
        con.close()
    assert compare_frames(spark_pdf, oracle_pdf) == []


@pytest.mark.parametrize(
    "variant",
    [sweep.NONFINITE, sweep.NULLED, sweep.UNICODE, sweep.SKEWED, sweep.CONTENT],
    ids=lambda v: v.tag,
)
def test_variant_cache_is_keyed_on_the_source(tmp_path, variant):
    """A variant cached from one source is rebuilt, not returned, when a
    different source is materialized into the same directory."""
    other = tmp_path / "half"
    other.mkdir()
    for name in os.listdir(SF0001):
        if name.endswith(".parquet"):
            t = pq.read_table(os.path.join(SF0001, name))
            pq.write_table(t.slice(0, len(t) // 2), str(other / name))
    out = str(tmp_path / "variant")
    first = materialize(variant, SF0001, out)
    second = materialize(variant, str(other), out)
    assert first["_src_dir"] == os.path.abspath(SF0001)
    assert second["_src_dir"] == str(other)
    for name in os.listdir(other):
        got = pq.read_metadata(os.path.join(out, name)).num_rows
        assert got == pq.read_metadata(str(other / name)).num_rows, name
    assert materialize(variant, str(other), out) == second


def _oracle_rec():
    return {"rows_match": True, "schema_match": True, "hash_match": True,
            "spark_rows": 1, "oracle_rows": 1, "err": None, "source_digest": "d"}


def _layout_rec(digest="d"):
    return {"hash": "h", "n_rows": 1, "err": None, "source_digest": digest}


def _write_shard(root, axis, shard, n, records, layout=None):
    path = sweep.shard_path(str(root), sweep.AXES[axis], shard, n, layout)
    with open(path, "w") as fh:
        json.dump({"stats": {}, "records": {"queries": records}, "probes": None}, fh)


@pytest.fixture
def two_query_registry(monkeypatch):
    """The merge reads only names from the registry."""
    monkeypatch.setattr(sweep, "catalog", lambda: {"agg_a": None, "agg_b": None})


def test_merge_writes_artifact_and_drops_shards(tmp_path, two_query_registry):
    _write_shard(tmp_path, "sf0.01", 0, 2, {"agg_a": _oracle_rec()})
    _write_shard(tmp_path, "sf0.01", 1, 2, {"agg_b": _oracle_rec()})
    assert sweep.merge("sf0.01", 2, "sf0.01", root=str(tmp_path)) == 0
    art = json.loads((tmp_path / "CORRECTNESS_SWEEP.json").read_text())
    assert set(art) == {"sf", "n_queries", "commit", "source_digest", "generated_unix", "queries"}
    assert list(art["queries"]) == ["agg_a", "agg_b"] and art["sf"] == 0.01
    assert not list(tmp_path.glob("*.shard*"))


def test_merge_refuses_a_missing_shard(tmp_path, two_query_registry):
    _write_shard(tmp_path, "sf0.01", 0, 2, {"agg_a": _oracle_rec(), "agg_b": _oracle_rec()})
    assert sweep.merge("sf0.01", 2, "sf0.01", root=str(tmp_path)) == 2
    assert not (tmp_path / "CORRECTNESS_SWEEP.json").exists()


def test_merge_refuses_a_query_missing_from_every_shard(tmp_path, two_query_registry):
    _write_shard(tmp_path, "nan", 0, 1, {"agg_a": _oracle_rec()})
    assert sweep.merge("nan", 1, "sf0.1", root=str(tmp_path)) == 2
    assert not (tmp_path / "NAN_SWEEP.json").exists()


def _merge_layouts(tmp_path, records):
    for layout, recs in records.items():
        _write_shard(tmp_path, "invariance", 0, 1, recs, layout)
    rc = sweep.merge("invariance", 1, "sf0.01", root=str(tmp_path))
    return rc, json.loads((tmp_path / "INVARIANCE_SWEEP.json").read_text())


def test_invariance_merge_fails_a_query_missing_from_the_baseline(tmp_path, two_query_registry):
    records = {lay: {"agg_a": _layout_rec(), "agg_b": _layout_rec()} for lay in LAYOUTS}
    del records[sweep.BASELINE]["agg_b"]
    rc, art = _merge_layouts(tmp_path, records)
    assert rc == 1 and art["fails"] == ["agg_b"]
    assert art["queries"]["agg_b"]["err"].startswith("missing from baseline")
    assert len(list(tmp_path.glob("*.shard*"))) == len(LAYOUTS)  # kept for debugging


def test_invariance_merge_fails_layout_passes_at_different_digests(tmp_path, two_query_registry):
    records = {lay: {"agg_a": _layout_rec(), "agg_b": _layout_rec()} for lay in LAYOUTS}
    records["p5_noaqe"]["agg_a"] = _layout_rec(digest="other")
    rc, art = _merge_layouts(tmp_path, records)
    assert rc == 1 and art["fails"] == ["agg_a"]
    assert art["queries"]["agg_a"]["source_digest"] is None
    assert "different source states" in art["queries"]["agg_a"]["err"]


def test_closeout_exits_nonzero_when_a_step_fails(monkeypatch):
    """Suite first, every axis next, the freshness guard last; one
    failing step makes the whole command fail."""
    calls = []

    def fake_call(cmd, cwd=None):
        calls.append(cmd)
        return 1 if cmd[-1] == "nan" else 0

    monkeypatch.setattr(closeout.subprocess, "call", fake_call)
    assert closeout.main() == 1
    assert calls[0][1:3] == ["-m", "pytest"] and "slow or not slow" in calls[0]
    assert [c[-1] for c in calls[1:-1]] == list(sweep.AXES)
    assert calls[-1][-1] == "tools/check_artifacts.py"
    monkeypatch.setattr(closeout.subprocess, "call", lambda cmd, cwd=None: 0)
    assert closeout.main() == 0
