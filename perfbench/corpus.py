"""Seeded corpus generator for the benchmark.

Builds the ten engine tables (same names and parquet schemas as the
testdata corpora of TESTDATA.md) from a seed, then scales them k-fold with
``tools/gen_scale.py``'s key-offset replication (imported, not copied)
and shuffles the row order with the same seed.  The seed changes the
base values, the planted near-duplicates and the row order; the same
seed always gives byte-identical tables.

Each (seed, sf, k, tables) corpus is written once under
``.perfbench_cache/corpus/`` at the checkout root (git-ignored) and
reused by later runs.  ``run.py`` calls ``build`` with each workload's
fixed scale and tables.
"""

from __future__ import annotations

import importlib.util
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CACHE = os.path.join(ROOT, ".perfbench_cache")
ALL_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

# rows per unit of scale factor, the TPC-H-style ratios of the
# sf0.001/0.01/0.1 testdata corpora
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
EMB_DIM = 64


def _gen_scale():
    spec = importlib.util.spec_from_file_location(
        "gen_scale", os.path.join(ROOT, "tools", "gen_scale.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _days(rng, n, start, span):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)], pa.string())


def _base_tables(rng: np.random.Generator, sf: float, tables) -> dict[str, pa.Table]:
    n = {t: max(1, int(r * sf)) for t, r in ROWS_PER_SF.items()}
    n_users = max(10, int(15_000 * sf))
    out: dict[str, pa.Table] = {}
    if "region" in tables:
        out["region"] = pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        })
    if "nation" in tables:
        out["nation"] = pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if "customer" in tables:
        c = n["customer"]
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(c), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), pa.int32()),
            "c_acctbal": _money(rng, c, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], c),
        })
    if "supplier" in tables:
        s = n["supplier"]
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(s), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), pa.int32()),
            "s_acctbal": _money(rng, s, -999.99, 9999.99),
        })
    if "part" in tables:
        p = n["part"]
        adj = ["small", "large", "red", "blue", "hot", "cold", "new", "old"]
        noun = ["ring", "widget", "bolt", "rod", "plate", "gear", "gizmo", "anvil"]
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(p), pa.int64()),
            "p_name": [f"{adj[a]} {noun[b]}" for a, b in rng.integers(0, 8, (p, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, p)],
            "p_type": _pick(rng, ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], p),
            "p_size": pa.array(rng.integers(1, 51, p), pa.int32()),
            "p_retailprice": np.round(900 + (np.arange(p) % 1000) * 0.1, 1),
        })
    if "orders" in tables:
        o = n["orders"]
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(o), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], o), pa.int64()),
            "o_orderstatus": _pick(rng, ["O", "F", "P"], o),
            "o_totalprice": _money(rng, o, 1000, 500_000),
            "o_orderdate": pa.array(_days(rng, o, "1995-01-01", 2400), pa.timestamp("us")),
            "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], o),
        })
    if "lineitem" in tables:
        li = n["lineitem"]
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, n["orders"], li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, li), pa.int32()),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, li, 900, 105_000),
            "l_discount": rng.integers(0, 11, li) / 100.0,
            "l_tax": rng.integers(0, 9, li) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": pa.array(_days(rng, li, "1995-01-02", 2500), pa.timestamp("us")),
        })
    if "events" in tables:
        e = n["events"]
        micros = np.sort(rng.choice(30 * 86_400 * 1_000_000, e, replace=False))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(e), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01", "us") + micros.astype("timedelta64[us]"), pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_users, e), pa.int64()),
            "event_type": _pick(rng, ["view", "click", "signup", "purchase", "error"], e),
            "value": np.round(rng.uniform(0.01, 490.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)],
        })
    if "documents" in tables:
        d = n["documents"]
        texts = []
        for i in range(d):
            # 5% planted near-dups (an earlier doc plus one token) and a
            # few exact copies, the dup structure the curation stages find
            r = rng.random()
            if i > 0 and r < 0.05:
                texts.append(texts[int(rng.integers(0, i))] + " dup")
            elif i > 0 and r < 0.052:
                texts.append(texts[int(rng.integers(0, i))])
            else:
                words = rng.integers(0, len(VOCAB), int(rng.integers(10, 100)))
                texts.append(" ".join(VOCAB[w] for w in words))
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(d), pa.int64()),
            "text": texts,
            "lang": _pick(rng, LANGS, d, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        })
    if "embeddings" in tables:
        m = n["embeddings"]
        labels = rng.integers(0, 10, m)
        centers = rng.normal(size=(10, EMB_DIM))
        vecs = centers[labels] + rng.normal(scale=1.5, size=(m, EMB_DIM))
        vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
        out["embeddings"] = pa.table({
            "vec_id": pa.array(np.arange(m), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        })
    return out


def corpus_dir(seed: int, sf: float, k: int, tables) -> str:
    tag = "all" if set(tables) == set(ALL_TABLES) else "-".join(sorted(tables))
    return os.path.join(CACHE, "corpus", f"seed{seed}_sf{sf:g}_k{k}_{tag}")


def build(seed: int, sf: float, k: int, tables=ALL_TABLES) -> str:
    """Return the corpus directory, generating it unless already cached."""
    out = corpus_dir(seed, sf, k, tables)
    if os.path.exists(os.path.join(out, "_DONE")):
        return out
    gen_scale = _gen_scale()
    rng = np.random.default_rng(seed)
    tmp = out + f".tmp{os.getpid()}"
    base, scaled = os.path.join(tmp, "base"), os.path.join(tmp, "scaled")
    os.makedirs(base)
    os.makedirs(scaled)
    for name, table in _base_tables(rng, sf, tables).items():
        pq.write_table(table, os.path.join(base, f"{name}.parquet"))
    for name in tables:
        gen_scale.scale_table(base, scaled, name, k)
        path = os.path.join(scaled, f"{name}.parquet")
        t = pq.read_table(path)
        pq.write_table(t.take(rng.permutation(t.num_rows)), path, compression="zstd")
    shutil.rmtree(base)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    shutil.rmtree(out, ignore_errors=True)
    os.rename(scaled, out)
    shutil.rmtree(tmp)
    open(os.path.join(out, "_DONE"), "w").close()
    return out

