"""Seeded generator for the fixpoint-loop inputs: the ten tables of the
synthetic star schema, shaped like the sf directories the engine's query
suite reads (same column names and types, same ratios: 10 orders and
1 supplier per customer-tenth, 4 lineitems per order, keys uniform).

The loop family (q198, q199, q209, q226) reads only `orders` and
`lineitem`; the other eight tables are small but non-empty so the
engine's testdata canary can fingerprint the directory. The same
(seed, sf) always gives the same rows.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1992 = 694224000  # 1992-01-01T00:00:00Z in seconds
EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z in seconds


def sizes(sf):
    return {"orders": int(1_500_000 * sf), "lineitem": int(6_000_000 * sf),
            "customer": int(150_000 * sf), "supplier": int(10_000 * sf),
            "part": int(200_000 * sf)}


def _ts(rng, n, lo, span_days):
    secs = lo + rng.integers(0, span_days, n) * 86400
    return pa.array(secs * 1_000_000, pa.timestamp("us"))


def _strs(rng, n, choices):
    return pa.array(np.asarray(choices, dtype=object)[rng.integers(0, len(choices), n)],
                    pa.string())


def tables(seed, sf):
    rng = np.random.default_rng(seed)
    n = sizes(sf)
    o, li, c, s, p = (n["orders"], n["lineitem"], n["customer"],
                      n["supplier"], n["part"])
    out = {}
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(o, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, c, o, dtype=np.int64)),
        "o_orderstatus": _strs(rng, o, ["F", "O", "P"]),
        "o_totalprice": pa.array(np.round(rng.uniform(900, 500_000, o), 2)),
        "o_orderdate": _ts(rng, o, EPOCH_1992, 3650),
        "o_orderpriority": _strs(rng, o, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                          "4-NOT SPECIFIED", "5-LOW"]),
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, o, li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, p, li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, s, li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, li).astype(np.float64)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 100_000, li), 2)),
        "l_discount": pa.array(rng.integers(0, 11, li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, li) / 100.0),
        "l_returnflag": _strs(rng, li, ["A", "N", "R"]),
        "l_linestatus": _strs(rng, li, ["F", "O"]),
        "l_shipdate": _ts(rng, li, EPOCH_1992, 3650),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(c, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
        "c_nationkey": pa.array(rng.integers(0, 25, c, dtype=np.int32)),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, c), 2)),
        "c_mktsegment": _strs(rng, c, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                       "HOUSEHOLD", "MACHINERY"]),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(s, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
        "s_nationkey": pa.array(rng.integers(0, 25, s, dtype=np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, s), 2)),
    })
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(p, dtype=np.int64)),
        "p_name": pa.array([f"part {i}" for i in range(p)]),
        "p_brand": _strs(rng, p, [f"Brand#{i}{j}" for i in range(1, 6)
                                  for j in range(1, 6)]),
        "p_type": _strs(rng, p, ["STANDARD BRASS", "SMALL STEEL", "LARGE TIN"]),
        "p_size": pa.array(rng.integers(1, 51, p, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, p), 2)),
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    })
    ne = 1000
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array((EPOCH_2024 + rng.integers(0, 86400 * 300, ne)) * 1_000_000,
                       pa.timestamp("us", tz="UTC")),
        "user_id": pa.array(rng.integers(0, 100, ne, dtype=np.int64)),
        "event_type": _strs(rng, ne, ["view", "click", "purchase"]),
        "value": pa.array(np.round(rng.uniform(0, 100, ne), 2)),
        "props": pa.array(["{}"] * ne),
    })
    nd = 100
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array([f"document {i} text" for i in range(nd)]),
        "lang": _strs(rng, nd, ["en", "de", "fr"]),
        "source": _strs(rng, nd, ["web", "book"]),
        "n_chars": pa.array(np.full(nd, 15, dtype=np.int64)),
    })
    nv = 100
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.array([rng.standard_normal(8).astype(np.float32).tolist()
                               for _ in range(nv)], pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 4, nv, dtype=np.int32)),
    })
    return out


def write(seed, sf, out_dir):
    """Write `<name>.parquet` files into out_dir; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, t in tables(seed, sf).items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = t.num_rows
    return counts
