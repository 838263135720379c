"""Seeded input generators for the three workloads.

Every input the engine sees comes from here and depends only on the seed
(and, for the OData churn, on the cycle number).  The tenant stamps
``CURDATE`` on churned rows when it applies them, because the engine's
watermark is the wall clock at refresh start; everything else is fixed by
the seed.  ``python3 perfbench/selftest.py`` checks that the same seed gives
byte-identical inputs and another seed different ones.
"""

from __future__ import annotations

import hashlib
import json
import os
from datetime import datetime, timedelta

import numpy as np

ROUNDS = 30  # op rounds generated for the analytics mix; a run uses far fewer

# --------------------------------------------------------------------------
# OData tenant (elt_odata_refresh)
# --------------------------------------------------------------------------

TENANT_ORDERS = 8_000
CTYPES = 40
CHURN_INSERTS = 500
CHURN_UPDATES = 200
STATUSES = ["Draft", "Approved", "Sent", "Closed", "Cancelled"]
PARTS = [f"P{i:04d}" for i in range(400)]


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *stream])


def _items(rng: np.random.Generator, n: int) -> list[dict]:
    return [
        {
            "KLINE": k + 1,
            "PARTNAME": PARTS[int(rng.integers(len(PARTS)))],
            "TQUANT": float(rng.integers(1, 50)),
            "PRICE": round(float(rng.uniform(1, 500)), 2),
        }
        for k in range(n)
    ]


def _order(rng: np.random.Generator, i: int) -> dict:
    return {
        "ORDNAME": f"SO{i:07d}",
        "CUSTNAME": f"C{int(rng.integers(5000)):05d}",
        "CTYPECODE": f"T{int(rng.integers(CTYPES)):02d}",
        "STATDES": STATUSES[int(rng.integers(len(STATUSES)))],
        "QPRICE": round(float(rng.uniform(10, 20_000)), 2),
        "ORD": i,
        "ORDERITEMS_SUBFORM": _items(rng, int(rng.integers(0, 5))),
    }


def tenant_initial(seed: int, n_orders: int = TENANT_ORDERS) -> tuple[list[dict], list[dict]]:
    """(orders, ctypes) the tenant starts with; CURDATE spreads over 2024."""
    rng = _rng(seed, 1)
    base = datetime(2024, 1, 1)
    offsets = np.sort(rng.integers(0, 365 * 86400, n_orders))
    orders = []
    for i in range(n_orders):
        o = _order(rng, i)
        o["CURDATE"] = (base + timedelta(seconds=int(offsets[i]))).isoformat() + "+00:00"
        orders.append(o)
    ctypes = [
        {"CTYPECODE": f"T{i:02d}", "CTYPENAME": f"type-{int(rng.integers(10**6)):06d}"}
        for i in range(CTYPES)
    ]
    return orders, ctypes


def churn(seed: int, cycle: int, n_orders: int = TENANT_ORDERS) -> dict:
    """Cycle ``cycle``'s batch: new orders plus updates of existing keys.
    Rows carry no CURDATE; the tenant stamps it when applying."""
    rng = _rng(seed, 2, cycle)
    first_new = n_orders + cycle * CHURN_INSERTS
    inserts = [_order(rng, first_new + j) for j in range(CHURN_INSERTS)]
    keys = rng.choice(first_new, size=CHURN_UPDATES, replace=False)
    updates = [
        {
            "ORDNAME": f"SO{int(k):07d}",
            "STATDES": STATUSES[int(rng.integers(len(STATUSES)))],
            "QPRICE": round(float(rng.uniform(10, 20_000)), 2),
            "ORDERITEMS_SUBFORM": _items(rng, int(rng.integers(1, 5))),
        }
        for k in sorted(keys)
    ]
    return {"inserts": inserts, "updates": updates}


# --------------------------------------------------------------------------
# staged_query_mix: TPC-H-shaped tables with the testdata schemas
# --------------------------------------------------------------------------

QM_ORDERS = 25_000
QM_LINES_PER_ORDER = 4  # mean; ~100k lineitem rows
QM_CUSTOMERS = 2_500
QM_EVENTS = 25_000
QM_USERS = 2_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["view", "click", "signup", "purchase", "error"]
QM_DATE0 = np.datetime64("1995-01-01", "us")
QM_DAYS = 7 * 365


def query_tables(seed: int) -> dict:
    """pyarrow tables region/nation/customer/orders/lineitem/events with
    the column names and types of the engine's testdata."""
    import pyarrow as pa

    rng = _rng(seed, 3)
    region = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    nation = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    nc = QM_CUSTOMERS
    customer = pa.table({
        "c_custkey": pa.array(np.arange(nc), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999, 9999, nc), 2),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
    })
    no = QM_ORDERS
    odate = QM_DATE0 + rng.integers(0, QM_DAYS, no).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(no), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, nc, no), pa.int64()),
        "o_orderstatus": np.array(["O", "F", "P"])[rng.integers(0, 3, no)],
        "o_totalprice": np.round(rng.uniform(1000, 400_000, no), 2),
        "o_orderdate": pa.array(odate.astype("datetime64[us]")),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
    })
    per = rng.integers(1, 2 * QM_LINES_PER_ORDER, no)
    okey = np.repeat(np.arange(no), per)
    nl = len(okey)
    lineno = np.concatenate([np.arange(1, k + 1) for k in per]).astype(np.int32)
    ship = odate[okey] + rng.integers(1, 120, nl).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, 20_000, nl), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 1_000, nl), pa.int64()),
        "l_linenumber": pa.array(lineno, pa.int32()),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 100_000, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
        "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
        "l_shipdate": pa.array(ship.astype("datetime64[us]")),
    })
    ne = QM_EVENTS
    ts = np.datetime64("2024-01-01", "us") + np.sort(
        rng.integers(0, 31 * 86400 * 10**6, ne)
    ).astype("timedelta64[us]")
    events = pa.table({
        "event_id": pa.array(np.arange(ne), pa.int64()),
        "ts": pa.array(ts),
        "user_id": pa.array(rng.integers(0, QM_USERS, ne), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
        "value": np.round(rng.uniform(0, 500, ne), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, ne)],
    })
    return {
        "region": region, "nation": nation, "customer": customer,
        "orders": orders, "lineitem": lineitem, "events": events,
    }


REGISTRY_QUERIES = [
    ("plans.queries", "q1_pricing_summary"),
    ("plans.queries", "q5_region_revenue"),
    ("plans.queries", "q_star_region_summary"),
    ("plans.queries", "q_sessionize"),
    ("plans.queries", "o1_latest_per_key"),
    ("plans.analytics", "q_cube_region_nation"),
]
# staged reads and rewrites of one query-mix round, beside the registry queries
QM_ROUND_KINDS = ["range_read"] * 6 + ["key_read"] * 4 + ["delete", "update"]
QM_ROUND = len(REGISTRY_QUERIES) + len(QM_ROUND_KINDS) + 1  # + one maintain per round


def query_ops(seed: int) -> list[dict]:
    """The seeded op sequence of the query mix, with every predicate.  Each
    round is a seeded order of the same multiset (every registry query
    once, the staged reads and DML) followed by one ``maintain``, so any
    whole number of rounds has the same op mix for every seed."""
    rng = _rng(seed, 4)
    ops = []
    for _ in range(ROUNDS):
        kinds = [("query", q) for q in REGISTRY_QUERIES] + [(k, None) for k in QM_ROUND_KINDS]
        for j in rng.permutation(len(kinds)):
            kind, q = kinds[j]
            if kind == "query":
                op = {"kind": kind, "layer": q[0], "name": q[1]}
            elif kind == "range_read":
                d0 = int(rng.integers(0, QM_DAYS - 60))
                width = int(rng.integers(5, 45))
                lo = (QM_DATE0 + np.timedelta64(d0, "D")).astype("datetime64[D]")
                op = {"kind": kind, "lo": str(lo), "hi": str(lo + np.timedelta64(width, "D"))}
            elif kind == "key_read":
                op = {"kind": kind, "keys": sorted(int(k) for k in rng.choice(QM_ORDERS, 20, replace=False))}
            elif kind == "delete":
                op = {"kind": kind, "keys": sorted(int(k) for k in rng.choice(QM_ORDERS, 8, replace=False))}
            else:
                op = {
                    "kind": kind,
                    "keys": sorted(int(k) for k in rng.choice(QM_ORDERS, 8, replace=False)),
                    "priority": PRIORITIES[int(rng.integers(5))],
                }
            ops.append(op)
        ops.append({"kind": "maintain"})
    return ops


# --------------------------------------------------------------------------
# corpus_curation: documents with stated duplicate shares + embeddings
# --------------------------------------------------------------------------

CORPUS_DOCS = 20_000
CORPUS_SHARDS = 24  # ops work on one shard (doc_id % CORPUS_SHARDS) at a time
EXACT_DUP_SHARE = 0.10  # documents that copy another document exactly
NEAR_DUP_SHARE = 0.10  # documents that copy another with ~5% of tokens replaced
EMB_DIM = 64
EMB_CLUSTERS = 32
EMB_VECTORS = 8_000
EMB_NEAR_DUP_SHARE = 0.05  # vectors that are a small perturbation of another
VOCAB = (
    "the of and a to in is it that for on with as was at by be this are from "
    "data spark stream table query batch scan join merge window filter hash "
    "group order key value column row index vector model token corpus text "
    "page file cache commit offset shard plan cost fast slow big small part"
).split()


def corpus(seed: int, n_docs: int = CORPUS_DOCS) -> dict:
    """pyarrow tables ``documents`` (doc_id, text, lang, source, n_chars)
    and ``embeddings`` (vec_id, embedding float[64], label), plus the
    ground-truth duplicate lists."""
    import pyarrow as pa

    rng = _rng(seed, 5)
    n_vocab = len(VOCAB)
    lengths = rng.integers(20, 120, n_docs)
    pool = rng.integers(0, n_vocab, int(lengths.sum()))
    toks = np.split(pool, np.cumsum(lengths)[:-1])
    u = rng.random(n_docs)
    src = (rng.random(n_docs) * np.arange(n_docs)).astype(np.int64)
    exact_of: dict[int, int] = {}
    near_of: dict[int, int] = {}
    for i in range(1, n_docs):
        if u[i] < EXACT_DUP_SHARE:
            toks[i] = toks[src[i]]
            exact_of[i] = int(src[i])
        elif u[i] < EXACT_DUP_SHARE + NEAR_DUP_SHARE:
            t = toks[src[i]].copy()
            flip = rng.random(len(t)) < 0.05
            t[flip] = rng.integers(0, n_vocab, int(flip.sum()))
            toks[i] = t
            near_of[i] = int(src[i])
    words = list(VOCAB)
    texts = [" ".join([words[j] for j in t.tolist()]) for t in toks]
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": np.array(["en", "de", "fr", "zh"])[rng.integers(0, 4, n_docs)],
        "source": [f"src{int(s)}" for s in rng.integers(0, 8, n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    nv = EMB_VECTORS
    cents = rng.normal(size=(EMB_CLUSTERS, EMB_DIM))
    label = rng.integers(0, EMB_CLUSTERS, nv)
    vec = cents[label] + rng.normal(size=(nv, EMB_DIM))
    dup = np.flatnonzero(rng.random(nv) < EMB_NEAR_DUP_SHARE)
    dup = dup[dup > 0]
    src = np.array([int(rng.integers(d)) for d in dup], dtype=np.int64)
    vec[dup] = vec[src] + 0.01 * rng.normal(size=(len(dup), EMB_DIM))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    vec = vec.astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMB_DIM).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(label, pa.int32()),
    })
    return {"documents": docs, "embeddings": emb, "exact_of": exact_of, "near_of": near_of}


CURATION_OPS = [
    ("operators.dedup", "exact_dedup"),
    ("operators.dedup", "minhash_verified_pairs"),
    ("operators.corpus", "connected_components"),
    ("operators.similarity", "semantic_pairs_resharded"),
    ("operators.similarity", "ivfpq_append_current"),
    ("operators.similarity", "ivfpq_topk_current"),
    ("functions.text", "quality_score_expr"),
]


CUR_ROUND = len(CURATION_OPS)


def curation_ops(seed: int) -> list[dict]:
    """Seeded op order plus each op's shard and query vectors; each round
    is a seeded order of ``CURATION_OPS``."""
    rng = _rng(seed, 6)
    ops = []
    for _ in range(ROUNDS):
        for j in rng.permutation(len(CURATION_OPS)):
            layer, name = CURATION_OPS[j]
            ops.append({
                "layer": layer,
                "name": name,
                "slice": int(rng.integers(0, 1 << 16)),
                "queries": sorted(int(q) for q in rng.choice(EMB_VECTORS, 32, replace=False)),
            })
    return ops


def mixed_order(seed: int) -> list[tuple[str, int]]:
    """(part, index into that part's op list) for the staged analytics mix:
    each round interleaves one query-mix round and one curation round in a
    seeded order, each part keeping its own op order."""
    rng = _rng(seed, 8)
    out = []
    for r in range(ROUNDS):
        slots = np.array(["qm"] * QM_ROUND + ["cur"] * CUR_ROUND)[rng.permutation(QM_ROUND + CUR_ROUND)]
        nxt = {"qm": r * QM_ROUND, "cur": r * CUR_ROUND}
        for part in slots:
            out.append((str(part), nxt[part]))
            nxt[part] += 1
    return out


# --------------------------------------------------------------------------
# fingerprints (self-test and result records)
# --------------------------------------------------------------------------


def _table_bytes(t) -> bytes:
    import pyarrow as pa

    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, t.schema) as w:
        w.write_table(t)
    return sink.getvalue().to_pybytes()


def fingerprint(obj) -> str:
    """sha256 of a generated input: pyarrow tables via Arrow IPC bytes,
    everything else via canonical JSON."""
    h = hashlib.sha256()

    def feed(o):
        if hasattr(o, "schema") and hasattr(o, "num_rows"):
            h.update(_table_bytes(o))
        elif isinstance(o, dict):
            for k in sorted(o, key=str):
                h.update(str(k).encode())
                feed(o[k])
        elif isinstance(o, (list, tuple)):
            for x in o:
                feed(x)
        else:
            h.update(json.dumps(o, sort_keys=True, default=str).encode())

    feed(obj)
    return h.hexdigest()


def write_parquet_dir(tables: dict, out_dir: str) -> None:
    """``<out_dir>/<name>.parquet`` per table — the layout the engine's
    registry queries read."""
    import pyarrow.parquet as pq

    os.makedirs(out_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
