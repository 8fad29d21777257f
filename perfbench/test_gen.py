"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py

The same seed must give byte-identical inputs; another seed must give
another row order with the same oracle answers, so a
query whose answer moves with the seed is an engine defect, not a
generator one.
"""

from __future__ import annotations

import hashlib
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
import workloads  # noqa: E402


def _digests(path: str) -> dict[str, str]:
    return {
        name: hashlib.sha256(open(os.path.join(path, name), "rb").read()).hexdigest()
        for name in sorted(os.listdir(path))
    }


def test_same_seed_same_bytes(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_tables(str(a), seed=7)
    gen.write_tables(str(b), seed=7)
    assert _digests(str(a)) == _digests(str(b))
    history_a, history_b = [], []
    for tick in range(3):
        ta = gen.tick_lines(7, tick, 200, history_a)
        tb = gen.tick_lines(7, tick, 200, history_b)
        assert ta.lines == tb.lines and ta.malformed == tb.malformed


def test_other_seed_other_order_same_answers(tmp_path):
    import pyarrow.parquet as pq

    from tests.oracle_utils import _canon, duck_connection

    a, b = tmp_path / "a", tmp_path / "b"
    gen.write_tables(str(a), seed=7)
    gen.write_tables(str(b), seed=8)
    names = workloads.PIPELINE_SESSION + workloads.RELATIONAL_MIX
    lineitem_a = pq.read_table(a / "lineitem.parquet")
    lineitem_b = pq.read_table(b / "lineitem.parquet")
    assert lineitem_a.column(0) != lineitem_b.column(0)
    keys = [(c, "ascending") for c in lineitem_a.column_names]
    assert lineitem_a.sort_by(keys).equals(lineitem_b.sort_by(keys))

    from big_data_final_project_spark.registry import catalog

    cat = catalog()
    con_a, con_b = duck_connection(str(a)), duck_connection(str(b))
    try:
        for name in names:
            oracle = cat[name].oracle
            if oracle is None:
                continue
            got_a = _canon(con_a.execute(oracle).fetchdf())
            got_b = _canon(con_b.execute(oracle).fetchdf())
            assert got_a.equals(got_b), name
    finally:
        con_a.close()
        con_b.close()


def test_tick_shares():
    history: list[dict] = []
    ticks = [gen.tick_lines(3, t, 1000, history) for t in range(5)]
    lines = sum(len(t.lines) for t in ticks)
    malformed = sum(t.malformed for t in ticks)
    assert lines == 5000
    assert 0 < malformed < 0.05 * lines
    assert sum(len(t.valid) for t in ticks) == lines - malformed == len(history)
    ids = [r["event_id"] for r in history]
    assert len(set(ids)) < len(ids)  # redeliveries repeat an earlier record
