"""Seeded input generation: the tables each workload starts from and the
op log it replays. Everything here is a pure function of the seed; the
engine only ever receives what these functions return.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np

EMBED_DIM = 16
N_PARTS = 100          # an update on one l_partkey touches ~1% of rows
INSERT_ROWS = 1000     # rows per list insert
STREAM_ROWS = 500      # rows per insert_stream replay
WARM_KEY = 1_000_000_000
ROUND = ("insert", "lookup", "search", "update", "lookup", "range", "lookup",
         "timetravel", "delete", "lookup", "search", "range", "stream_insert",
         "lookup", "timetravel", "lookup", "search")

_WORDS = ("a the key agg row scan slow fast table value part hash merge "
          "batch spark line sort window data column join small customer "
          "query order group stream big filter vector").split()
_LANGS = ("en", "en", "zh", "es", "de", "fr")
_SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")


def rng(seed: int, stream: int) -> np.random.Generator:
    """One independent generator per (seed, purpose)."""
    return np.random.default_rng([int(seed), int(stream)])


# -- ingest: a lineitem-shaped base table with embeddings -----------------

def item_rows(r: np.random.Generator, first_key: int, n: int) -> list[dict]:
    """`n` lineitem-shaped rows with unique keys first_key.. and a unit
    embedding each."""
    qty = r.integers(1, 51, n).astype(float)
    unit = np.round(r.uniform(900.0, 2100.0, n), 2)
    emb = r.normal(size=(n, EMBED_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    emb = emb.astype(np.float32).astype(float)
    flags = r.choice(["A", "N", "R"], n)
    status = r.choice(["O", "F"], n)
    orderkey = r.integers(0, 50_000, n)
    partkey = r.integers(0, N_PARTS, n)
    suppkey = r.integers(0, 1000, n)
    disc = r.integers(0, 11, n) / 100.0
    tax = r.integers(0, 9, n) / 100.0
    return [{"k": first_key + i,
             "l_orderkey": int(orderkey[i]),
             "l_partkey": int(partkey[i]),
             "l_suppkey": int(suppkey[i]),
             "l_quantity": float(qty[i]),
             "l_extendedprice": float(round(qty[i] * unit[i], 2)),
             "l_discount": float(disc[i]),
             "l_tax": float(tax[i]),
             "l_returnflag": str(flags[i]),
             "l_linestatus": str(status[i]),
             "embedding": emb[i].tolist()}
            for i in range(n)]


def ingest_ops(seed: int, n_base: int) -> Iterator[dict]:
    """The ingest op log: rounds of ``ROUND`` forever. Keys, update and
    delete targets, lookup keys, query vectors and time-travel picks all
    come from the seed; deletes and lookups only pick keys this log has
    created and not yet deleted."""
    r = rng(seed, 2)
    next_key = n_base
    deleted: set[int] = set()

    def live_key() -> int:
        while True:
            k = int(r.integers(0, next_key))
            if k not in deleted:
                return k

    i = 0
    while True:
        kind = ROUND[i % len(ROUND)]
        i += 1
        if kind in ("insert", "stream_insert"):
            n = INSERT_ROWS if kind == "insert" else STREAM_ROWS
            yield {"op": kind, "rows": item_rows(r, next_key, n)}
            next_key += n
        elif kind == "update":
            yield {"op": kind, "partkey": int(r.integers(0, N_PARTS)),
                   "l_quantity": float(r.integers(1, 51)),
                   "l_discount": float(r.integers(0, 11)) / 100.0}
        elif kind == "delete":
            k = live_key()
            deleted.add(k)
            yield {"op": kind, "key": k}
        elif kind == "lookup":
            yield {"op": kind, "key": live_key()}
        elif kind == "range":
            lo = int(r.integers(0, max(1, next_key - 200)))
            yield {"op": kind, "lo": lo, "hi": lo + 200}
        elif kind == "timetravel":
            yield {"op": kind, "pick": float(r.random())}
        else:
            q = r.normal(size=EMBED_DIM)
            yield {"op": kind, "vector": (q / np.linalg.norm(q)).tolist()}


def ingest_warmup(seed: int, n_base: int) -> list[dict]:
    """Warm-up ops, keyed apart from the op log (keys from ``WARM_KEY``)
    so the log's key picks never depend on them."""
    r = rng(seed, 4)
    lo = int(r.integers(0, n_base - 200))
    return [{"op": "insert", "rows": item_rows(r, WARM_KEY, INSERT_ROWS)},
            {"op": "lookup", "key": int(r.integers(0, n_base))},
            {"op": "range", "lo": lo, "hi": lo + 200},
            {"op": "timetravel", "pick": float(r.random())}]


# -- analytics: the parquet tables the declared queries read --------------

def analytics_tables(seed: int, n_lineitem: int = 10_000,
                     n_docs: int = 150) -> dict:
    """pyarrow tables in the schema of the engine's TPC-H-ish test data:
    lineitem (unique (orderkey, linenumber)), orders, customer and a
    documents corpus over a small vocabulary with ~10% near-duplicates."""
    import pyarrow as pa

    r = rng(seed, 3)
    n_orders = max(1, n_lineitem // 4)
    n_cust = max(1, n_orders // 10)
    lines = r.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders), lines)[:n_lineitem]
    lnum = np.concatenate([np.arange(1, m + 1) for m in lines])[:n_lineitem]
    n = len(okey)
    qty = r.integers(1, 51, n).astype(float)
    epoch = np.datetime64("1995-01-01T00:00:00", "us")
    ship = epoch + r.integers(0, 2500, n).astype("timedelta64[D]")
    lineitem = pa.table({
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_partkey": pa.array(r.integers(0, 2000, n), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, 100, n), pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * r.uniform(900, 2100, n), 2),
        "l_discount": r.integers(0, 11, n) / 100.0,
        "l_tax": r.integers(0, 9, n) / 100.0,
        "l_returnflag": r.choice(["A", "N", "R"], n),
        "l_linestatus": r.choice(["O", "F"], n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })
    odate = epoch + r.integers(0, 2500, n_orders).astype("timedelta64[D]")
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(n_orders), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n_cust, n_orders), pa.int64()),
        "o_orderstatus": r.choice(["F", "O", "P"], n_orders),
        "o_totalprice": np.round(r.uniform(1000, 400000, n_orders), 2),
        "o_orderdate": pa.array(odate, pa.timestamp("us")),
        "o_orderpriority": r.choice(_PRIORITIES, n_orders),
    })
    customer = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(r.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(r.uniform(-999, 9999, n_cust), 2),
        "c_mktsegment": r.choice(_SEGMENTS, n_cust),
    })
    texts: list[str] = []
    for i in range(n_docs):
        if i >= 10 and r.random() < 0.1:
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = str(r.choice(_WORDS))
        else:
            words = list(r.choice(_WORDS, int(r.integers(10, 90))))
        texts.append(" ".join(words))
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": r.choice(_LANGS, n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    return {"lineitem": lineitem, "orders": orders, "customer": customer,
            "documents": documents}

