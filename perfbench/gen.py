"""Deterministic input tiers for the benchmark.

The tables follow the shape of the star schema + corpus tables graft's
queries read (region, nation, customer, supplier, part, orders, lineitem,
events, documents, embeddings): the same column names and parquet types
(timestamps as TIMESTAMP(MICROS) without a zone, embeddings as
list<float>), dense 0-based keys, and a documents corpus drawn from a
30-word vocabulary with planted exact-plus-marker duplicates.

Tiers are a pure function of (scale, base seed); increments for the
lake_refresh workload are a pure function of (tier, run seed, cycle).
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("join hash row batch scan customer column filter small slow merge "
         "order vector line data table agg value key stream window spark a "
         "group part big sort query fast the").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE"]
ADJ = ["blue", "hot", "small", "old", "red", "new", "cold", "large"]
NOUN = ["bolt", "gear", "anvil", "widget", "ring", "rod", "plate", "gizmo"]
PTYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
DIMS = 64
LABELS = 10
US_PER_DAY = 86_400_000_000
EPOCH_1995 = np.datetime64("1995-01-01", "D")
EVENTS_T0 = np.datetime64("2024-01-01T00:00:00", "us")

# Row counts at scale 1 (TPC-H-style); a tier at scale s has s times these.
BASE_ROWS = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
             "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
             "documents": 50_000, "embeddings": 50_000}


def _days(rng, n, lo, hi):
    """n midnight timestamps, uniform over [lo, hi) days after 1995-01-01."""
    d = EPOCH_1995 + rng.integers(lo, hi, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _texts(rng, n, prior=None):
    """n documents: random vocabulary words, ~5% planted duplicates of an
    earlier document (its text plus one or two " dup" markers)."""
    out = []
    for _ in range(n):
        pool = (prior or []) + out
        if pool and rng.random() < 0.05:
            src = pool[int(rng.integers(0, len(pool)))]
            out.append(src + " dup" * int(rng.integers(1, 3)))
        else:
            k = int(rng.integers(8, 90))
            out.append(" ".join(VOCAB[j] for j in rng.integers(0, len(VOCAB), k)))
    return out


def _documents(rng, first_id, n, prior=None):
    text = _texts(rng, n, prior)
    return pa.table({
        "doc_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "text": pa.array(text, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P), pa.string()),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })


def _embeddings(rng, centers, first_id, n, prior=None):
    label = rng.integers(0, LABELS, n)
    v = rng.standard_normal((n, DIMS)) + 1.2 * centers[label]
    if prior is not None and len(prior):
        near = rng.random(n) < 0.03
        src = prior[rng.integers(0, len(prior), int(near.sum()))]
        v[near] = src + 0.02 * rng.standard_normal(src.shape)
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    }), v


def _orders(rng, first_key, n, n_cust):
    return pa.table({
        "o_orderkey": pa.array(np.arange(first_key, first_key + n), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n), pa.string()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": pa.array(_days(rng, n, 0, 2403), pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n), pa.string()),
    })


def _events(rng, first_id, n, n_users):
    ts = np.sort(rng.integers(0, 30 * US_PER_DAY, n))
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(EVENTS_T0 + ts.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n), pa.string()),
        "value": pa.array(np.round(rng.lognormal(2.5, 1.0, n), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
                          pa.string()),
    })


def rows_at(scale):
    return {t: max(1, int(round(r * scale))) for t, r in BASE_ROWS.items()}


def n_users(n_events):
    return max(10, n_events // 66)


def make_tier(out_dir, scale, seed):
    """Write every table of one tier under out_dir as <table>.parquet."""
    rng = np.random.default_rng([seed, int(scale * 1e6)])
    n = rows_at(scale)
    os.makedirs(out_dir, exist_ok=True)
    centers = np.random.default_rng([seed, 7]).standard_normal((LABELS, DIMS))
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["customer"]), 2),
            "c_mktsegment": pa.array(rng.choice(SEGMENTS, n["customer"]), pa.string())}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n["supplier"]), 2)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n["part"]), pa.int64()),
            "p_name": [f"{ADJ[a]} {NOUN[b]}" for a, b in
                       zip(rng.integers(0, 8, n["part"]), rng.integers(0, 8, n["part"]))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n["part"])],
            "p_type": pa.array(rng.choice(PTYPES, n["part"]), pa.string()),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": [900.0 + (i % 1000) / 10 for i in range(n["part"])]}),
        "orders": _orders(rng, 0, n["orders"], n["customer"]),
        "events": _events(rng, 0, n["events"], n_users(n["events"])),
    }
    m = n["lineitem"]
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, m), pa.int32()),
        "l_quantity": rng.integers(1, 51, m).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, m), 2),
        "l_discount": rng.integers(0, 11, m) / 100.0,
        "l_tax": rng.integers(0, 9, m) / 100.0,
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], m), pa.string()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], m), pa.string()),
        "l_shipdate": pa.array(_days(rng, m, 1, 2499), pa.timestamp("us")),
    })
    tables["documents"] = _documents(rng, 0, n["documents"])
    tables["embeddings"], _ = _embeddings(rng, centers, 0, n["embeddings"])
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return n


def make_increment(tier_dir, out_dir, scale, base_seed, seed, cycle, share):
    """One seeded increment cycle for a tier: new documents (some planted
    duplicates of existing ones), embeddings, orders and events, `share`
    of each table's tier rows, with keys continuing past the tier's and
    past every earlier cycle's."""
    n = rows_at(scale)
    k = {t: max(1, int(round(n[t] * share)))
         for t in ("documents", "embeddings", "orders", "events")}
    rng = np.random.default_rng([seed % (1 << 63), cycle, 1])  # any int seed
    centers = np.random.default_rng([base_seed, 7]).standard_normal((LABELS, DIMS))
    docs = pq.read_table(os.path.join(tier_dir, "documents.parquet"))
    vecs = pq.read_table(os.path.join(tier_dir, "embeddings.parquet"))
    prior_vecs = np.stack(vecs.column("embedding").to_numpy(zero_copy_only=False))
    first = lambda t: n[t] + cycle * k[t]
    os.makedirs(out_dir, exist_ok=True)
    out = {
        "documents": _documents(rng, first("documents"), k["documents"],
                                docs.column("text").to_pylist()),
        "embeddings": _embeddings(rng, centers, first("embeddings"),
                                  k["embeddings"], prior_vecs)[0],
        "orders": _orders(rng, first("orders"), k["orders"], n["customer"]),
        "events": _events(rng, first("events"), k["events"],
                          n_users(n["events"])),
    }
    for name, t in out.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
    return {t: v.num_rows for t, v in out.items()}
