"""Seeded synthetic inputs for the benchmark.

The engine's query functions read ten fixture tables (``region`` …
``embeddings``, schemas pinned in ``plankton_spark/io.py``). This
module writes tables of the same schema and value distributions with
NumPy and pyarrow only, so the corpus is built without the engine and
without a Spark session:

- TPC-H-ish star schema, uniform keys, two-decimal prices;
- ``events`` with microsecond timestamps over January 2024 and a tiny
  ``{"k": n}`` JSON payload;
- ``documents``: word salad over a 30-word vocabulary; 5% of the
  documents are near-duplicates, each a copy of a different earlier
  original with the word ``dup`` appended (Jaccard ≈ 0.97 on word
  5-gram shingles), no two texts are equal and every other pair sits
  far below the 0.8 dedup threshold;
- ``embeddings``: isotropic 64-dim unit vectors (normalised Gaussian
  noise) with a uniform random ``label`` in 0..9 that is not a cluster
  id.

These value distributions are fitted to the engine's fixture tables:
``shape.py`` measures the statistics that drive the engine's work on
both, and the benchmark's self-test asserts that they agree. The same
(seed, sf) always writes byte-identical tables.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = (
    "the a fast slow big small key row column table value part hash scan "
    "join merge sort filter group agg batch stream window order line "
    "customer data query spark vector"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
P_TYPES = ["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"]
P_ADJ = ["blue", "red", "small", "large", "hot", "cold", "old", "new"]
P_NOUN = ["bolt", "gear", "ring", "widget", "rod", "plate", "anvil", "gizmo"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.13, 0.15]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

US_PER_DAY = 86_400_000_000
# share of documents that are near-duplicate copies of an original
DUP_SHARE = 0.05
# bumped whenever a change here changes the tables written
VERSION = 2


def _days_us(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype(np.int64)
    b = np.datetime64(hi, "D").astype(np.int64)
    return rng.integers(a, b + 1, n).astype(np.int64) * US_PER_DAY


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def star_tables(rng, sf: float) -> dict[str, pa.Table]:
    n_supp = max(10, int(10_000 * sf))
    n_cust = max(150, int(150_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = max(6_000, int(6_000_000 * sf))
    i32 = pa.int32()
    out = {
        "region": pa.table(
            {"r_regionkey": pa.array(range(5), i32), "r_name": REGIONS}
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(range(25), i32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": np.arange(n_supp, dtype=np.int64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": np.arange(n_cust, dtype=np.int64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
            }
        ),
    }
    names = [f"{a} {b}" for a in P_ADJ for b in P_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_line)),
        }
    )
    return out


def events_table(rng, sf: float) -> pa.Table:
    n = max(1_000, int(1_000_000 * sf))
    start = np.datetime64("2024-01-01", "us").astype(np.int64)
    ts = np.sort(rng.integers(start, start + 30 * US_PER_DAY, n))
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": _ts(ts),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.maximum(0.01, np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array([json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)]),
        }
    )


def documents_table(rng, n: int) -> pa.Table:
    n_dups = round(DUP_SHARE * n)
    dup_at = set(rng.choice(np.arange(n // 10, n), n_dups, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if i in dup_at:
            src = originals.pop(int(rng.integers(0, len(originals))))
            texts.append(texts[src] + " dup")
        else:
            words = np.asarray(VOCAB)[rng.integers(0, len(VOCAB), rng.integers(10, 100))]
            originals.append(i)
            texts.append(" ".join(words))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{s}" for s in rng.integers(0, 20, n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def embeddings_table(rng, n: int) -> pa.Table:
    label = rng.integers(0, 10, n)
    vec = rng.normal(0.0, 1.0, (n, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.array(list(vec), type=pa.list_(pa.float32())),
            "label": pa.array(label, pa.int32()),
        }
    )


def build_corpus(out: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten tables under ``out`` (replacing it), one file each
    as in the fixture layout, and return their row counts."""
    rng = np.random.default_rng(seed)
    tables = star_tables(rng, sf)
    tables["events"] = events_table(rng, sf)
    tables["documents"] = documents_table(rng, max(500, int(50_000 * sf)))
    tables["embeddings"] = embeddings_table(rng, max(500, int(20_000 * sf)))
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return {name: t.num_rows for name, t in tables.items()}
