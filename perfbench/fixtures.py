"""Deterministic benchmark fixtures: the TPC-H-ish star schema plus the
events, documents and embeddings tables the engine's catalog binds
(`mini_hive_server_spark.catalog.TABLE_NAMES`).

The repository's tests and bench.py read a fixture set that lives
outside the repository (TESTDATA.md), so the benchmark generates its
own copy in the checkout. It has the documented schemas (FIXTURES.md
section A), one single-row-group file per table, the same row counts at
sf0.001, sf0.01 and sf0.1, and the value distributions measured on that
fixture set (sf0.01, and sf0.1 where sf0.01 is too small to tell):

  documents   10-99 words per text drawn uniformly from a 31-word
              vocabulary (mean 54.2 words at sf0.1); 5.0% of documents
              are near-duplicates, another document's text plus a
              trailing " dup" token, at every scale; no exact copies
              beyond the ones two near-duplicates of the same source
              make (0 docs at sf0.01, 16 at sf0.1); lang en 41%, zh, es,
              fr 15% each, de 14%; 20 sources, src<i % 20>
  lineitem    order, part and supplier keys uniform over their tables,
              so lines per order are Poisson(4) (1-13 at sf0.01) and the
              co-purchase graph's part degree spans 42-206, median 115
              (here: 1-14 lines; degree 41-193, median 116)
  embeddings  64-dim unit vectors, isotropic (|cos| median 0.086), 10
              labels
  events      150 users at sf0.01, 5 event types uniform, value
              exponential with mean 50, ts uniform over 1-30 January
              2024

Data depends only on the scale factor, DATA_SEED and this generator, so
two checkouts build byte-identical inputs and both commits of a
comparison read the same rows. A fixture directory is named after a hash
of this file and the numpy version that drew it, and holds the cached
DuckDB oracle results computed on it, so a changed generator builds new
data and new oracle results instead of reusing stale ones. The output
directory appears atomically, so an interrupted build is redone.
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42

_REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_ADJ = ("blue", "red", "small", "big", "new", "old", "hot", "cold")
_NOUN = ("anvil", "bolt", "plate", "ring", "rod", "widget", "gear", "valve")
_PTYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "zh", "es", "fr", "de")
_LANG_P = (0.41, 0.15, 0.15, 0.15, 0.14)

_DAY_US = 86_400 * 1_000_000


def _days_us(rng, first: str, last: str, n: int) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    return rng.integers(lo, hi + 1, n) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n: int, p=None) -> list:
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)].tolist()


def _documents(rng, n: int) -> dict:
    lens = rng.integers(10, 100, n)
    texts = [" ".join(_pick(rng, _WORDS, int(k))) for k in lens]
    # 5% near-duplicates: a copy of another document plus a "dup" token
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(n))] + " dup"
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(rng, _LANGS, n, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _tables(sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([DATA_SEED, int(round(sf * 1000))])
    n_cust = max(1, round(150_000 * sf))
    n_supp = max(1, round(10_000 * sf))
    n_part = max(1, round(200_000 * sf))
    n_ord = max(1, round(1_500_000 * sf))
    n_li = max(1, round(6_000_000 * sf))
    n_ev = max(1, round(1_000_000 * sf))
    n_users = max(1, round(15_000 * sf))
    n_doc = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))
    i32, i64 = np.int32, np.int64

    emb = rng.standard_normal((n_emb, 64))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    ev_ts = np.sort(
        np.datetime64("2024-01-01", "us").astype(i64)
        + rng.integers(0, 30 * _DAY_US, n_ev)
    )
    cols = {
        "region": {
            "r_regionkey": np.arange(5, dtype=i32),
            "r_name": list(_REGIONS),
        },
        "nation": {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": np.arange(25, dtype=i32) % 5,
        },
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        },
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
        },
        "part": {
            "p_partkey": np.arange(n_part, dtype=i64),
            "p_name": [
                f"{_ADJ[a]} {_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, n_part)],
            "p_type": _pick(rng, _PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(i32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        },
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=i64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(i64),
            "o_orderstatus": _pick(rng, ("F", "O", "P"), n_ord),
            "o_totalprice": _money(rng, 1000, 500_000, n_ord),
            "o_orderdate": _ts(_days_us(rng, "1995-01-01", "2001-08-01", n_ord)),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        },
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype(i64),
            "l_partkey": rng.integers(0, n_part, n_li).astype(i64),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype(i64),
            "l_linenumber": rng.integers(1, 8, n_li).astype(i32),
            "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105_000, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100,
            "l_tax": rng.integers(0, 9, n_li) / 100,
            "l_returnflag": _pick(rng, ("A", "N", "R"), n_li),
            "l_linestatus": _pick(rng, ("F", "O"), n_li),
            "l_shipdate": _ts(_days_us(rng, "1995-01-02", "2001-11-04", n_li)),
        },
        "events": {
            "event_id": np.arange(n_ev, dtype=i64),
            "ts": _ts(ev_ts),
            "user_id": rng.integers(0, n_users, n_ev).astype(i64),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        },
        "documents": _documents(rng, n_doc),
        "embeddings": {
            "vec_id": np.arange(n_emb, dtype=i64),
            "embedding": pa.array(
                list(emb.astype(np.float32)), type=pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_emb).astype(i32),
        },
    }
    return {name: pa.table(c) for name, c in cols.items()}


def _version() -> str:
    with open(__file__, "rb") as f:
        source = f.read()
    return hashlib.sha256(source + np.__version__.encode()).hexdigest()[:12]


def ensure_fixture(root: str, sf: float) -> str:
    """Return the directory holding the sf fixture's tables under
    ``root``, generating them first if this generator has not yet."""
    out = os.path.join(root, f"sf{sf:g}-{_version()}")
    data = os.path.join(out, "data")
    if os.path.isdir(data):
        return data
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "data"))
    for name, table in _tables(sf).items():
        pq.write_table(
            table, os.path.join(tmp, "data", f"{name}.parquet"), row_group_size=table.num_rows
        )
    os.makedirs(os.path.join(tmp, "oracles"))
    os.rename(tmp, out)
    return data


def oracle_cache_dir(data_dir: str) -> str:
    """Where the DuckDB oracle results computed on ``data_dir`` live."""
    return os.path.join(os.path.dirname(data_dir), "oracles")
