"""Seeded inputs for the benchmark workloads.

``star_schema`` writes the ten parquet tables the query registry reads
(region … embeddings), shaped like the engine's reference test data:
uniform keys and categories, TPC-H-style names, a 30-word document
vocabulary with ~5 % marked near-copies, unit-norm 64-d embeddings and
a Poisson event stream over January 2024. ``food_record`` and
``allergen_rows`` are the reference pipeline's food schema and the
serving layer's allergen table. Every function is a pure function of
its seed: the same seed gives byte-identical files.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
DOC_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

_DAY_US = 86_400_000_000
_ORDER_EPOCH = datetime(1995, 1, 1)
_ORDER_DAYS = (datetime(2001, 8, 1) - _ORDER_EPOCH).days
_EVENT_EPOCH = datetime(2024, 1, 1)
_EVENT_SPAN_US = 30 * _DAY_US


def _ts(epoch: datetime, micros: np.ndarray) -> pa.Array:
    base = int((epoch - datetime(1970, 1, 1)).total_seconds()) * 1_000_000
    return pa.array(base + micros.astype(np.int64), pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    texts = [" ".join(rng.choice(DOC_WORDS, k)) for k in lengths]
    # ~5 % of documents are a copy of another document plus a marker
    # word: the near-duplicate pairs the dedup operators look for
    dups = np.flatnonzero(rng.random(n) < 0.05)
    originals = rng.integers(0, n, len(dups))
    for d, o in zip(dups, originals):
        if d != o:
            texts[d] = texts[o] + " dup"
    ids = np.arange(n)
    return pa.table(
        {
            "doc_id": pa.array(ids, pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
            "source": pa.array([f"src{i % 20}" for i in ids], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    v = rng.standard_normal((n, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(np.arange(n), pa.int64()),
            "embedding": pa.array(list(v), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n), pa.int32()),
        }
    )


def star_schema(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the registry's ten tables at scale factor ``sf`` under
    ``out_dir``; returns {table: rows}. sf=0.01 gives 60k lineitem
    rows; documents and embeddings stay at 500 rows up to sf=0.01."""
    rng = np.random.default_rng(seed)
    n_cust = max(10, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(100, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_ev = max(100, int(1_000_000 * sf))
    n_users = max(10, int(15_000 * sf))
    n_docs = max(500, int(50_000 * sf))
    n_vecs = max(500, int(20_000 * sf))

    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(REGIONS, pa.string()),
        }
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array(_names("Customer", n_cust), pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -1000, 10000, n_cust), pa.float64()),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust), pa.string()),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array(_names("Supplier", n_supp), pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -1000, 10000, n_supp), pa.float64()),
        }
    )
    pk = np.arange(n_part)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": pa.array(
                [
                    f"{a} {b}"
                    for a, b in zip(
                        rng.choice(PART_ADJ, n_part), rng.choice(PART_NOUN, n_part)
                    )
                ],
                pa.string(),
            ),
            "p_brand": pa.array(
                [f"Brand#{b}" for b in rng.integers(1, 26, n_part)], pa.string()
            ),
            "p_type": pa.array(rng.choice(PART_TYPES, n_part), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(
                np.round(900.0 + (pk % 1000) * 0.1, 2), pa.float64()
            ),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord), pa.string()),
            "o_totalprice": pa.array(_money(rng, 1000, 500000, n_ord), pa.float64()),
            "o_orderdate": _ts(
                _ORDER_EPOCH, rng.integers(0, _ORDER_DAYS + 1, n_ord) * _DAY_US
            ),
            "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord), pa.string()),
        }
    )
    ship_days = rng.integers(0, _ORDER_DAYS + 1, n_line) + rng.integers(1, 96, n_line)
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(
                rng.integers(1, 51, n_line).astype(np.float64), pa.float64()
            ),
            "l_extendedprice": pa.array(
                _money(rng, 900, 105000, n_line), pa.float64()
            ),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0, pa.float64()),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0, pa.float64()),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_line), pa.string()),
            "l_linestatus": pa.array(rng.choice(["F", "O"], n_line), pa.string()),
            "l_shipdate": _ts(_ORDER_EPOCH, ship_days * _DAY_US),
        }
    )
    ev_us = np.sort(rng.integers(0, _EVENT_SPAN_US, n_ev))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts(_EVENT_EPOCH, ev_us),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev), pa.string()),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), pa.float64()),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], pa.string()
            ),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    tables["embeddings"] = _embeddings(rng, n_vecs)

    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


# --- reference pipeline inputs ------------------------------------------

FOOD_WORDS = (
    "apple bean beef bread butter cheese chicken corn egg fish milk nut "
    "oat pasta peanut pork rice salmon soy tofu yogurt"
).split()
ALLERGENS = ["milk", "peanut", "egg", "soy", "wheat"]
PLAIN_INGREDIENTS = ["water", "salt", "sugar", "rice", "apple", "oil", "corn"]


def food_record(
    rng: np.random.Generator, seq: int, numeric_cols, malformed: bool
) -> dict:
    """One producer message: the 18-column food row as JSON-ready dict.
    ``description`` carries the sequence number so the sink can be
    audited record by record. A malformed record keeps valid JSON but
    follows the producer's bad-line shapes: a non-numeric value and a
    missing column, which conformance turns into 0.0 defaults."""
    rec = {}
    for c in numeric_cols:
        hi = 40.0 if c == "Protein-G" else 100.0
        rec[c] = round(float(rng.uniform(0.0, hi)), 2)
    words = rng.choice(FOOD_WORDS, 2)
    rec["description"] = f"food-{seq:07d} {words[0]} {words[1]}"
    if malformed:
        cols = list(numeric_cols)
        rec[cols[int(rng.integers(0, len(cols)))]] = "n/a"
        del rec[cols[int(rng.integers(0, len(cols)))]]
    return rec


def allergen_rows(seed: int, n: int) -> list[tuple[int, str, str]]:
    """(fdc_id, description, ingredients) rows of the serving table:
    lowercased comma-separated ingredients, each allergen in a known
    share of rows."""
    rng = np.random.default_rng(seed)
    rows = []
    for i in range(n):
        picks = list(rng.choice(PLAIN_INGREDIENTS, 2, replace=False))
        for a in ALLERGENS:
            if rng.random() < 0.2:
                picks.append(a)
        rng.shuffle(picks)
        words = rng.choice(FOOD_WORDS, 2)
        rows.append((1000 + i, f"{words[0]} {words[1]} {i}", ", ".join(picks)))
    return rows
