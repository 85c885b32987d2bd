"""Seeded synthetic fixture tables for the benchmark.

Writes the ten tables the engine reads (``data_webhooks_spark.schemas.
TABLE_NAMES``) as single-row-group parquet files under ``<root>/sf<sf>/``.
Their shapes follow a profile of the engine's sf0.1 and sf0.01 fixture
files (parquet footers and column statistics):

- arrow types as stored there, every timestamp column ``timestamp[us]``;
- row counts and key domains that scale with sf (``user_id`` over
  15000 × sf users), uniform foreign keys and categories, money and
  rates drawn uniform and rounded to cents (so ``l_discount`` 0 and
  0.10 are half as common as 0.05), day-granular order/ship dates
  drawn independently, and
  ``p_retailprice = 900 + (partkey % 1000) / 10``;
- events with distinct µs ``ts`` increasing with ``event_id`` over 30
  days, ``value`` ~ Exp(mean 50) rounded to cents, ``props`` over 100
  ``k`` values;
- documents of 10–99 words from a 30-word vocabulary; one in twenty is
  overwritten, in turn, by a copy of a random document plus a ``dup``
  token, so exact copies and dup-of-dup chains arise from colliding
  sources as they do there;
- unit-norm 64-d Gaussian embeddings with 10 uniform labels.

Generation is a one-time build step per checkout: the tables depend
only on ``FIXTURE_SEED``, ``sf`` and this file, never on the workload
seed, so every run of every workload reads the same bytes. A marker
named after this file's hash makes the build idempotent and
crash-safe, and rebuilds the tables when the generator changes.

    python3 perfbench/fixtures.py <root> [sf]
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

FIXTURE_SEED = 42
with open(__file__, "rb") as _f:
    SOURCE_HASH = hashlib.sha256(_f.read()).hexdigest()[:16]
MARKER = f".complete-{SOURCE_HASH}"

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.15, 0.40, 0.15, 0.15, 0.15]

US_PER_DAY = 86_400 * 1_000_000


def _day_us(iso: str) -> int:
    return int(np.datetime64(iso, "us").astype(np.int64))


def _dates(rng, n: int, lo: str, hi: str) -> pa.Array:
    days = rng.integers(0, (_day_us(hi) - _day_us(lo)) // US_PER_DAY + 1, n)
    return pa.array(_day_us(lo) + days * US_PER_DAY, pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, n: int, values: list[str], p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def tables(sf: float, seed: int = FIXTURE_SEED) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_vec = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}

    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
    )
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    out["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": _pick(rng, n_cust, SEGMENTS),
    })
    out["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj, noun = rng.integers(0, 8, n_part), rng.integers(0, 8, n_part)
    out["part"] = pa.table({
        "p_partkey": pk,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": _pick(rng, n_part, PART_TYPES),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (pk % 1000) * 0.1, 2),
    })
    out["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": _pick(rng, n_ord, ["F", "O", "P"]),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, n_ord, PRIORITIES),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
        "l_discount": _money(rng, n_li, 0.0, 0.1),
        "l_tax": _money(rng, n_li, 0.0, 0.08),
        "l_returnflag": _pick(rng, n_li, ["A", "N", "R"]),
        "l_linestatus": _pick(rng, n_li, ["F", "O"]),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", "2001-11-04"),
    })
    # ts: distinct, increasing with event_id, spread over 30 days
    span = 30 * US_PER_DAY
    ts = _day_us("2024-01-01") + np.sort(rng.choice(span, n_ev, replace=False))
    out["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, int(15_000 * sf), n_ev),
        "event_type": _pick(rng, n_ev, EVENT_TYPES),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = [
        " ".join(np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))])
        for _ in range(n_doc)
    ]
    # near-duplicates the dedup operators must find: applied in turn, so
    # two copies of one source are exact duplicates of each other and a
    # copy of a copy ends in "dup dup"
    n_near = n_doc // 20
    for dst, src in zip(rng.choice(n_doc, n_near, replace=False), rng.integers(0, n_doc, n_near)):
        texts[dst] = texts[src] + " dup"
    out["documents"] = pa.table({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, n_doc, LANGS, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    })
    return out


def ensure(root: str, sf: float = 0.1) -> str:
    """Build the fixture set under ``<root>/sf<sf>`` once; return its path."""
    out = os.path.join(root, f"sf{sf:g}")
    if os.path.exists(os.path.join(out, MARKER)):
        return out
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    with open(os.path.join(out, MARKER), "w") as f:
        f.write(f"seed={FIXTURE_SEED} sf={sf:g} source={SOURCE_HASH}\n")
    return out


if __name__ == "__main__":
    print(ensure(sys.argv[1], float(sys.argv[2]) if len(sys.argv) > 2 else 0.1))
