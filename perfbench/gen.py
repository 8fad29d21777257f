"""Seeded input generator for the benchmark.

Two kinds of input:

* ``write_tables(out_dir, seed)``: the ten tables the queries read
  (TPC-H-ish star schema plus ``events`` / ``documents`` /
  ``embeddings``), one parquet file with ONE row group per table, the
  layout and types of TESTDATA.md, so ``data.load_table``'s mirror path still
  triggers on the large tables. The table *contents* are fixed
  (``CONTENT_SEED``); ``seed`` only permutes the row order of every
  table. Every answer is therefore the same under every seed, and a
  query whose answer moves with the seed has a determinism defect.
* ``tick_lines(seed, tick, batch)``: one JSON-lines file of stream
  events per tick, with seeded shares of malformed, redelivered and late
  records, plus the generator's own count of what it wrote.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CONTENT_SEED = 42
# Rows per table: the sf0.01 sizes of TESTDATA.md, except that the TPC-H
# tables are at sf0.015 so lineitem (90,000 rows in one row group)
# crosses data.load_table's mirror threshold.
SIZES = {
    "customer": 2_250,
    "supplier": 150,
    "part": 3_000,
    "orders": 22_500,
    "lineitem": 90_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
    "users": 150,
}

_EPOCH_US = {
    "1995-01-01": 788_918_400_000_000,
    "2024-01-01": 1_704_067_200_000_000,
}
_DAY_US = 86_400_000_000
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PNAME_A = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
_PNAME_B = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_LANGS = ("en", "zh", "es", "de", "fr")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def _text(rng: np.random.Generator, n: int) -> list[str]:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(_WORDS), int(lens.sum()))
    out, at = [], 0
    for ln in lens:
        out.append(" ".join(_WORDS[w] for w in words[at : at + ln]))
        at += ln
    # ~5% near-duplicates: an earlier document plus one trailing token,
    # so the dedup / similarity families have real matches to find.
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def build_tables() -> dict[str, pa.Table]:
    """The fixed table contents (row order = key order)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n = SIZES
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{k}" for k in range(25)],
            "n_regionkey": pa.array([k % 5 for k in range(25)], i32),
        }
    )
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{k:09d}" for k in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, c), f64),
            "c_mktsegment": pa.array(
                [_SEGMENTS[k] for k in rng.integers(0, 5, c)], s
            ),
        }
    )
    sp = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(sp), i64),
            "s_name": [f"Supplier#{k:09d}" for k in range(sp)],
            "s_nationkey": pa.array(rng.integers(0, 25, sp), i32),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, sp), f64),
        }
    )
    p = n["part"]
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": [
                f"{_PNAME_A[a]} {_PNAME_B[b]}"
                for a, b in zip(rng.integers(0, 8, p), rng.integers(0, 8, p))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": [_PTYPES[k] for k in rng.integers(0, 6, p)],
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": pa.array(
                np.round(900 + (np.arange(p) % 1000) / 10.0, 1), f64
            ),
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": [("F", "O", "P")[k] for k in rng.integers(0, 3, o)],
            "o_totalprice": pa.array(_money(rng, 1000, 500_000, o), f64),
            "o_orderdate": pa.array(
                _EPOCH_US["1995-01-01"] + rng.integers(0, 2404, o) * _DAY_US, ts
            ),
            "o_orderpriority": [_PRIORITIES[k] for k in rng.integers(0, 5, o)],
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, sp, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64), f64),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, li), f64),
            "l_discount": pa.array(rng.integers(0, 11, li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, li) / 100.0, f64),
            "l_returnflag": [("A", "N", "R")[k] for k in rng.integers(0, 3, li)],
            "l_linestatus": [("F", "O")[k] for k in rng.integers(0, 2, li)],
            "l_shipdate": pa.array(
                _EPOCH_US["1995-01-01"] + rng.integers(1, 2500, li) * _DAY_US, ts
            ),
        }
    )
    e = n["events"]
    gaps = rng.exponential(30 * _DAY_US / e, e).astype(np.int64)
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(e), i64),
            "ts": pa.array(_EPOCH_US["2024-01-01"] + np.cumsum(gaps), ts),
            "user_id": pa.array(rng.integers(0, n["users"], e), i64),
            "event_type": [_EVENT_TYPES[k] for k in rng.integers(0, 5, e)],
            "value": pa.array(np.round(rng.exponential(50.0, e), 2), f64),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        }
    )
    d = n["documents"]
    texts = _text(rng, d)
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(d), i64),
            "text": pa.array(texts, s),
            "lang": [_LANGS[k] for k in rng.choice(5, d, p=_LANG_P)],
            "source": [f"src{k % 20}" for k in range(d)],
            "n_chars": pa.array([len(t) for t in texts], i64),
        }
    )
    m = n["embeddings"]
    vec = rng.standard_normal((m, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(m), i64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, m), i32),
        }
    )
    return tables


def write_tables(out_dir: str, seed: int) -> dict[str, int]:
    """Write every table, rows permuted by ``seed``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    rows = {}
    for name, table in build_tables().items():
        perm = rng.permutation(table.num_rows)
        pq.write_table(
            table.take(pa.array(perm)),
            os.path.join(out_dir, f"{name}.parquet"),
            row_group_size=max(1, table.num_rows),
            compression="snappy",
        )
        rows[name] = table.num_rows
    return rows


# --- stream ticks -----------------------------------------------------

MALFORMED_SHARE = 0.02  # half not JSON at all, half missing user_id
REDELIVERED_SHARE = 0.03  # an earlier tick's line, sent again verbatim
LATE_SHARE = 0.05  # event time 1-6 h behind the tick's clock
N_USERS = 500
TICK_SPAN_US = 60_000_000  # one tick covers one minute of event time


@dataclass
class Tick:
    lines: list[str]
    valid: list[dict] = field(default_factory=list)  # parsed valid records
    malformed: int = 0


def _fmt_ts(us: int) -> str:
    sec, frac = divmod(us, 1_000_000)
    t = np.datetime64(sec, "s").astype(str)
    return f"{t}.{frac:06d}Z"


def tick_lines(seed: int, tick: int, batch: int, history: list[dict]) -> Tick:
    """Lines for one tick. ``history`` holds every valid record sent so
    far (redeliveries are drawn from it and appended to it)."""
    rng = np.random.default_rng([seed, 2, tick])
    base = _EPOCH_US["2024-01-01"] + tick * TICK_SPAN_US
    out = Tick(lines=[])
    kinds = rng.random(batch)
    for j in range(batch):
        k = kinds[j]
        if k < MALFORMED_SHARE / 2:
            out.lines.append(f"not json {tick}:{j}")
            out.malformed += 1
            continue
        if k < MALFORMED_SHARE:
            rec = {"event_id": tick * batch + j, "ts": _fmt_ts(base), "value": 1.0}
            out.lines.append(json.dumps(rec))
            out.malformed += 1
            continue
        if k < MALFORMED_SHARE + REDELIVERED_SHARE and history:
            rec = history[int(rng.integers(0, len(history)))]
        else:
            us = base + int(rng.integers(0, TICK_SPAN_US))
            if k > 1.0 - LATE_SHARE:
                us -= int(rng.integers(3_600, 21_600)) * 1_000_000
            rec = {
                "event_id": tick * batch + j,
                "ts": _fmt_ts(us),
                "user_id": int(rng.integers(0, N_USERS)),
                "event_type": _EVENT_TYPES[int(rng.integers(0, 5))],
                "value": round(float(rng.integers(1, 100_000)) / 100.0, 2),
                "props": json.dumps({"k": int(rng.integers(0, 100))}),
            }
        out.lines.append(json.dumps(rec))
        out.valid.append(rec)
    history.extend(r for r in out.valid)
    return out
