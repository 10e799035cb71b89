"""Seeded synthetic inputs for the benchmark.

Every table has the shape of the engine's fixture schema
(``yupana_spark.catalog``): a TPC-H-like star at scale factor 0.1
(lineitem 600k rows, orders 150k, part 20k, supplier 1k, customer 15k),
optionally scaled down, and the documents corpus the datapipe entries read.
The same seed gives byte-identical parquet files; a generated directory is
cached under the cache root and reused by later runs with the same seed.

The corpus follows the base construction of ``tools/scale_check.synthesize``:
5000 docs over a 30-word vocabulary, ~5% near-dup copies carrying an extra
``dup`` word, and a few exact duplicates.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VERSION = "v1"

N_ORDERS = 150_000
N_LINEITEM = 600_000
N_PART = 20_000
N_SUPP = 1_000
N_CUST = 15_000
N_DOCS = 5_000

DAY0 = dt.datetime(1995, 1, 1)
SHIP_DAYS = (dt.datetime(2001, 11, 5) - DAY0).days
ORDER_DAYS = (dt.datetime(2001, 8, 2) - DAY0).days

ADJ = ["blue", "cold", "hot", "red", "small", "new", "old", "large"]
NOUN = ["ring", "plate", "gear", "rod", "bolt", "anvil", "widget", "gizmo"]
P_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part fast "
         "row the agg key query a scan batch").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.42, 0.145, 0.145, 0.145, 0.145]


def _ts(days: np.ndarray) -> pa.Array:
    us = (np.datetime64(DAY0, "us")
          + days.astype("timedelta64[D]").astype("timedelta64[us]"))
    return pa.array(us, type=pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem_rows(rng, n: int, key_base: int = 0,
                  days: np.ndarray | None = None,
                  scale: float = 1.0) -> pa.Table:
    """``n`` lineitem rows over a star of ``scale`` times sf0.1; order keys
    start at ``key_base`` when given a nonzero base (fresh keys for ingest
    batches)."""
    if days is None:
        days = rng.integers(0, SHIP_DAYS, n)
    okeys = (rng.integers(0, int(N_ORDERS * scale), n) if key_base == 0
             else key_base + np.arange(n, dtype=np.int64))
    return pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, int(N_PART * scale), n),
                              pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, int(N_SUPP * scale), n),
                              pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[
            rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _ts(days),
    })


def _relational(rng, scale: float) -> dict:
    """The star at ``scale`` times sf0.1 (row counts scale linearly)."""
    n = int(N_ORDERS * scale)
    n_part, n_supp, n_cust = (int(N_PART * scale), int(N_SUPP * scale),
                              int(N_CUST * scale))
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[
            rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 900.0, 555000.0, n)),
        "o_orderdate": _ts(rng.integers(0, ORDER_DAYS, n)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[
            rng.integers(0, 5, n)]),
    })
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in ADJ for b in NOUN]
    part = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.array(names)[rng.integers(0, len(names),
                                                        n_part)]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(np.array(P_TYPES)[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(900.0 + (pk % 1000) / 10.0),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[
            rng.integers(0, 5, n_cust)]),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    lineitem = lineitem_rows(rng, int(N_LINEITEM * scale), scale=scale)
    return {"lineitem": lineitem, "orders": orders, "part": part,
            "supplier": supplier, "customer": customer, "nation": nation,
            "region": region}


def _corpus(rng) -> dict:
    """The documents table: random word docs, ~5% near-dup copies of
    earlier docs with a trailing ``dup`` word, 8 exact pairs."""
    texts = []
    for _ in range(N_DOCS):
        k = int(rng.integers(10, 101))
        texts.append(" ".join(np.array(VOCAB)[rng.integers(0, len(VOCAB),
                                                           k)]))
    idx = rng.permutation(N_DOCS)
    near, exact = idx[:250], idx[250:258]
    for i in near:
        texts[i] = texts[int(rng.integers(0, N_DOCS))] + " dup"
    for i in exact:
        texts[i] = texts[int(rng.integers(0, N_DOCS))]
    langs = np.array(LANGS)[rng.choice(5, N_DOCS, p=LANG_P)]
    return {"documents": pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs),
        "source": pa.array([f"src{j % 20}" for j in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })}


def ensure(cache_root: str, kind: str, seed: int,
           scale: float = 1.0) -> tuple[str, float]:
    """Directory of ``kind`` inputs for ``seed`` and the seconds its
    generation took (measured when it was built): 'relational' is the star
    at ``scale`` times sf0.1, 'corpus' the documents table."""
    name = f"{kind}-{VERSION}-x{scale:g}-s{seed}"
    out = os.path.join(cache_root, name)
    manifest = os.path.join(out, "_MANIFEST.json")
    if os.path.exists(manifest):
        with open(manifest) as f:
            return out, json.load(f)["gen_s"]
    t0 = time.perf_counter()
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    rng = np.random.default_rng([seed, 0 if kind == "relational" else 1])
    tables = (_relational(rng, scale) if kind == "relational"
              else _corpus(rng))
    for t, tbl in tables.items():
        pq.write_table(tbl, os.path.join(tmp, f"{t}.parquet"))
    gen_s = time.perf_counter() - t0
    with open(os.path.join(tmp, "_MANIFEST.json"), "w") as f:
        json.dump({"seed": seed, "kind": kind, "scale": scale,
                   "gen_s": gen_s}, f)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, gen_s
