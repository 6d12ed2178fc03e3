"""Seeded input generator for the benchmark workloads.

Every table is drawn from ``numpy.random.default_rng`` seeded with the
workload seed and written with pyarrow using the registry's schemas (the
column names and types ``grapefruit_spark.catalog`` and the operator
registry read). The same seed gives byte-identical parquet files. Each
seed directory carries a ``manifest.json`` with row counts, logical MB
and the distribution parameters the seed chose.

Logical bytes are raw value bytes: 8 per 64-bit number or timestamp, 4
per 32-bit number, the UTF-8 length of each string. No encoding or
compression is counted.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

MANIFEST = "manifest.json"
# bumped whenever the generated bytes change, so a cached seed directory
# from an older generator is never reused
GENERATOR_VERSION = 2

# the base vocabulary of the registry's own documents corpus; the BM25
# query terms ("spark", "vector", "stream") are among them
BASE_WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EVENT_TYPES = ("signup", "purchase", "view", "click", "error")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
CATEGORIES = 48

# Sizes per workload: one cycle of mr_reference takes about 8 s on 4 cores,
# one of query_mix or sdfs_ingest (``rounds`` batches landed) about 12 s.
SIZES = {
    "mr_reference": {"docs": 1000, "orders": 25000, "suppliers": 200, "events": 60000},
    "query_mix": {
        "customers": 3000, "suppliers": 200, "parts": 4000, "orders": 30000,
        "events": 30000, "users": 300, "docs": 1500,
    },
    "sdfs_ingest": {"rounds": 2, "batch_rows": 40000},
}

_EPOCH = dt.datetime(1970, 1, 1)


def _days(y: int, m: int, d: int) -> int:
    return (dt.datetime(y, m, d) - _EPOCH).days


def logical_bytes(table: pa.Table) -> int:
    total = 0
    for col in table.columns:
        if pa.types.is_string(col.type) or pa.types.is_large_string(col.type):
            n = pc.sum(pc.binary_length(col)).as_py()
            total += int(n or 0)
        else:
            total += (col.type.bit_width // 8) * (len(col) - col.null_count)
    return total


def _ts_from_days(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _zipf_ranks(rng: np.random.Generator, n_items: int, s: float, size: int) -> np.ndarray:
    """Draw ``size`` ranks in [0, n_items) with P(rank k) ∝ 1/(k+1)^s."""
    w = 1.0 / np.arange(1, n_items + 1) ** s
    return rng.choice(n_items, size=size, p=w / w.sum())


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    extra = set()
    while len(extra) < size - len(BASE_WORDS):
        k = int(rng.integers(3, 10))
        w = "".join(rng.choice(letters, k))
        if w not in BASE_WORDS:
            extra.add(w)
    # BASE_WORDS take the hottest ranks, the rest follow in sorted order
    return np.array(list(BASE_WORDS) + sorted(extra), dtype=object)


def documents(rng: np.random.Generator, n_docs: int, vocab_size: int, zipf_s: float,
              dup_frac: float) -> pa.Table:
    """Zipf-vocabulary corpus with planted near-duplicates: ``dup_frac`` of
    the documents copy an earlier one with ~5% of its tokens replaced, so
    MinHash-LSH finds real pairs."""
    vocab = _vocabulary(rng, vocab_size)
    lens = rng.integers(40, 240, n_docs)
    ranks = _zipf_ranks(rng, vocab_size, zipf_s, int(lens.sum()))
    bounds = np.concatenate([[0], np.cumsum(lens)])
    toks = [vocab[ranks[bounds[i]:bounds[i + 1]]] for i in range(n_docs)]
    is_dup = rng.random(n_docs) < dup_frac
    for i in np.flatnonzero(is_dup):
        if i == 0:
            continue
        src = toks[int(rng.integers(0, i))].copy()
        flip = rng.random(len(src)) < 0.05
        src[flip] = vocab[rng.integers(0, vocab_size, int(flip.sum()))]
        toks[i] = src
    text = [" ".join(t) for t in toks]
    return pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(np.array(LANGS, dtype=object)[rng.integers(0, len(LANGS), n_docs)],
                         pa.string()),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_docs)], pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def events(rng: np.random.Generator, n_events: int, n_users: int) -> pa.Table:
    start = int((dt.datetime(2024, 1, 1) - _EPOCH).total_seconds() * 1_000_000)
    span = 30 * 86_400 * 1_000_000
    ts = np.sort(start + rng.integers(0, span, n_events))
    return pa.table({
        "event_id": pa.array(np.arange(n_events), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events), pa.int64()),
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[rng.integers(0, len(EVENT_TYPES), n_events)],
            pa.string()),
        "value": pa.array(_money(rng, 0.01, 500.0, n_events), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
                          pa.string()),
    })


def tpch(rng: np.random.Generator, n_customers: int, n_suppliers: int, n_parts: int,
         n_orders: int, supp_zipf_s: float | None) -> dict[str, pa.Table]:
    """TPC-H-shaped star schema. ``supp_zipf_s`` skews l_suppkey (the
    edge target / ballot candidate) toward low keys; None draws it
    uniformly, which keeps the join fan-outs of the TPC-H queries flat."""
    region = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": pa.array(list(REGIONS), pa.string()),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_customers), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_customers)], pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n_customers), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_customers), pa.float64()),
        "c_mktsegment": pa.array(
            np.array(SEGMENTS, dtype=object)[rng.integers(0, 5, n_customers)], pa.string()),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_suppliers), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_suppliers)], pa.string()),
        "s_nationkey": pa.array(rng.integers(0, 25, n_suppliers), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_suppliers), pa.float64()),
    })
    colors = np.array("red blue green black white small large steel".split(), dtype=object)
    things = np.array("ring widget bolt gear valve spring".split(), dtype=object)
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_parts), pa.int64()),
        "p_name": pa.array(colors[rng.integers(0, len(colors), n_parts)] + " "
                           + things[rng.integers(0, len(things), n_parts)], pa.string()),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_parts)], pa.string()),
        "p_type": pa.array(np.array("ECONOMY SMALL MEDIUM LARGE PROMO STANDARD".split(),
                                    dtype=object)[rng.integers(0, 6, n_parts)], pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_parts) % 1000) / 10, 2),
                                  pa.float64()),
    })
    odate = rng.integers(_days(1995, 1, 1), _days(2001, 8, 2), n_orders)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_customers, n_orders), pa.int64()),
        "o_orderstatus": pa.array(
            np.array(("F", "O", "P"), dtype=object)[rng.integers(0, 3, n_orders)], pa.string()),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_orders), pa.float64()),
        "o_orderdate": _ts_from_days(odate),
        "o_orderpriority": pa.array(
            np.array(PRIORITIES, dtype=object)[rng.integers(0, 5, n_orders)], pa.string()),
    })
    n_lines = rng.integers(1, 8, n_orders)
    n = int(n_lines.sum())
    okey = np.repeat(np.arange(n_orders), n_lines)
    starts = np.repeat(np.cumsum(n_lines) - n_lines, n_lines)
    if supp_zipf_s is None:
        supp = rng.integers(0, n_suppliers, n)
    else:
        supp = _zipf_ranks(rng, n_suppliers, supp_zipf_s, n)
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
        "l_suppkey": pa.array(supp, pa.int64()),
        "l_linenumber": pa.array(np.arange(n) - starts + 1, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype("float64"), pa.float64()),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(
            np.array(("A", "N", "R"), dtype=object)[rng.integers(0, 3, n)], pa.string()),
        "l_linestatus": pa.array(
            np.array(("F", "O"), dtype=object)[rng.integers(0, 2, n)], pa.string()),
        "l_shipdate": _ts_from_days(np.repeat(odate, n_lines) + rng.integers(1, 122, n)),
    })
    return {"region": region, "nation": nation, "customer": customer,
            "supplier": supplier, "part": part, "orders": orders, "lineitem": lineitem}


def landing_batch(rng: np.random.Generator, first_id: int, n: int, version: int) -> pa.Table:
    """Rows for the sdfs_ingest landing table. Integer measures keep every
    aggregate exact on both engines."""
    return pa.table({
        "id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "cat": pa.array([f"c{k:02d}" for k in rng.integers(0, CATEGORIES, n)], pa.string()),
        "qty": pa.array(rng.integers(1, 100, n), pa.int64()),
        "amount_cents": pa.array(rng.integers(100, 1_000_000, n), pa.int64()),
        "version": pa.array(np.full(n, version), pa.int32()),
        "note": pa.array([f"n{k}" for k in rng.integers(0, 100_000, n)], pa.string()),
    })


def _update_keys(rng: np.random.Generator, n_live: int, frac: float, skew: float) -> np.ndarray:
    """Distinct keys among ids [0, n_live), hot keys favoured: weights fall
    as a power law of a seeded permutation rank."""
    k = max(1, int(n_live * frac))
    rank = rng.permutation(n_live)
    w = 1.0 / (rank + 1.0) ** skew
    return np.sort(rng.choice(n_live, size=k, replace=False, p=w / w.sum()))


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _table_entry(table: pa.Table) -> dict:
    return {"rows": table.num_rows, "logical_mb": round(logical_bytes(table) / 1e6, 6)}


def _gen_mr_reference(rng: np.random.Generator, out: str) -> dict:
    sz = SIZES["mr_reference"]
    params = {
        "vocab_zipf_s": round(float(rng.uniform(1.05, 1.15)), 4),
        "vocab_size": 1500,
        "supp_zipf_s": round(float(rng.uniform(0.85, 0.95)), 4),
        "dup_frac": 0.0,
    }
    tables = {
        "documents": documents(rng, sz["docs"], params["vocab_size"],
                               params["vocab_zipf_s"], params["dup_frac"]),
        "lineitem": tpch(rng, 1000, sz["suppliers"], 2000, sz["orders"],
                         params["supp_zipf_s"])["lineitem"],
        "events": events(rng, sz["events"], 1500),
    }
    return _write_all(tables, out, params)


def _gen_query_mix(rng: np.random.Generator, out: str) -> dict:
    sz = SIZES["query_mix"]
    params = {
        "vocab_zipf_s": round(float(rng.uniform(1.0, 1.1)), 4),
        "vocab_size": 4000,
        "dup_frac": round(float(rng.uniform(0.04, 0.06)), 4),
    }
    tables = tpch(rng, sz["customers"], sz["suppliers"], sz["parts"], sz["orders"], None)
    tables["events"] = events(rng, sz["events"], sz["users"])
    tables["documents"] = documents(rng, sz["docs"], params["vocab_size"],
                                    params["vocab_zipf_s"], params["dup_frac"])
    return _write_all(tables, out, params)


def _gen_sdfs_ingest(rng: np.random.Generator, out: str) -> dict:
    sz = SIZES["sdfs_ingest"]
    params = {
        "rounds": sz["rounds"],
        "batch_rows": sz["batch_rows"],
        "update_frac": round(float(rng.uniform(0.09, 0.11)), 4),
        "update_key_skew": round(float(rng.uniform(0.3, 0.7)), 4),
    }
    tables = {}
    for r in range(sz["rounds"]):
        tables[f"batch_{r}"] = landing_batch(rng, r * sz["batch_rows"], sz["batch_rows"], 0)
        keys = _update_keys(rng, (r + 1) * sz["batch_rows"], params["update_frac"],
                            params["update_key_skew"])
        upd = landing_batch(rng, 0, len(keys), r + 1)
        tables[f"updates_{r}"] = upd.set_column(0, "id", pa.array(keys, pa.int64()))
    return _write_all(tables, out, params)


def _write_all(tables: dict[str, pa.Table], out: str, params: dict) -> dict:
    entries = {}
    for name, t in tables.items():
        _write(t, os.path.join(out, f"{name}.parquet"))
        entries[name] = _table_entry(t)
    return {"tables": entries, "params": params}


GENERATORS = {
    "mr_reference": _gen_mr_reference,
    "query_mix": _gen_query_mix,
    "sdfs_ingest": _gen_sdfs_ingest,
}


def ensure_inputs(cache_root: str, workload: str, seed: int) -> tuple[str, dict]:
    """Return (sf_dir, manifest) for ``workload`` at ``seed``, generating
    into ``cache_root/<workload>/seed-<seed>`` unless a complete copy from
    this generator version is already there."""
    out = os.path.join(cache_root, workload, f"seed-{seed}")
    mpath = os.path.join(out, MANIFEST)
    if os.path.exists(mpath):
        with open(mpath) as f:
            manifest = json.load(f)
        if manifest.get("generator_version") == GENERATOR_VERSION:
            return out, manifest
    generate(out, workload, seed)
    with open(mpath) as f:
        return out, json.load(f)


def generate(out: str, workload: str, seed: int) -> dict:
    """Generate ``workload``'s tables for ``seed`` into ``out`` (replaced)."""
    if os.path.isdir(out):
        shutil.rmtree(out)
    os.makedirs(out)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    body = GENERATORS[workload](rng, out)
    manifest = {
        "generator_version": GENERATOR_VERSION,
        "workload": workload,
        "seed": seed,
        **body,
        "logical_mb": round(sum(t["logical_mb"] for t in body["tables"].values()), 6),
    }
    # the manifest lands last: its presence marks a complete directory
    tmp = os.path.join(out, MANIFEST + ".tmp")
    with open(tmp, "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.rename(tmp, os.path.join(out, MANIFEST))
    return manifest
