"""Seeded input generator for the benchmark.

Writes the corpus the engine's registered queries read (a TPC-H-like star
schema plus ``events``, ``documents`` and ``embeddings``, with the column
types of ``schemas.TESTDATA_SCHEMAS``) and the reference pipeline's feeds
(clients and accounts CSVs, a paginated transactions feed). The same seed
gives byte-identical files. Sizes follow the driver corpus at sf0.01.

The query corpus is the same for every run (``CORPUS_SEED``), so that runs
of different seeds measure the same work; the run's seed drives the
pipeline feed and the op order.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SIZES = {
    "customer": 1_500,
    "supplier": 100,
    "part": 2_000,
    "orders": 15_000,
    "lineitem": 60_000,
    "events": 10_000,
    "documents": 500,
    "embeddings": 500,
}
CORPUS_SEED = 0
EVENT_USERS = 150
EMBED_DIM = 64
EMBED_LABELS = 10

# Reference pipeline feed: clients own 0-3 accounts; the transactions feed
# carries duplicated (timestamp, account_id) keys and malformed amounts so
# that cleaning has work to do, and stays within one page size of 1000.
ETL_CLIENTS = 200
ETL_TX = 2_000
ETL_PAGE = 1_000
ETL_DUP_SHARE = 0.08
ETL_BAD_AMOUNT_SHARE = 0.05

_WORDS = (
    "a the row key agg scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order stream "
    "filter group big vector"
).split()
_LANGS = np.array(["en", "zh", "es", "de", "fr"])
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PART_ADJ = ["small", "red", "blue", "hot", "cold", "big", "green", "shiny"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "pipe", "valve", "spring", "plate"]
_PART_TYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_EVENT_TYPES = np.array(["click", "error", "purchase", "signup", "view"])


def _ts(start: str, seconds: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1e6).astype("timedelta64[us]"), pa.timestamp("us"))


def _days(start: str, days: np.ndarray) -> pa.Array:
    return _ts(start, days.astype(np.int64) * 86_400)


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def corpus_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n["customer"], dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
        "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
        "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n["supplier"], dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
        "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
    })
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": np.arange(n["part"], dtype=np.int64),
        "p_name": [names[i] for i in rng.integers(0, len(names), n["part"])],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
        "p_type": rng.choice(_PART_TYPES, n["part"]),
        "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n["part"]) % 1000) / 10, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n["orders"], dtype=np.int64),
        "o_custkey": rng.integers(0, n["customer"], n["orders"]).astype(np.int64),
        "o_orderstatus": rng.choice(np.array(["F", "O", "P"]), n["orders"]),
        "o_totalprice": _money(rng, 1000, 500000, n["orders"]),
        "o_orderdate": _days("1995-01-01", rng.integers(0, 2404, n["orders"])),
        "o_orderpriority": rng.choice(_PRIORITIES, n["orders"]),
    })
    qty = rng.integers(1, 51, n["lineitem"]).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n["orders"], n["lineitem"]).astype(np.int64),
        "l_partkey": rng.integers(0, n["part"], n["lineitem"]).astype(np.int64),
        "l_suppkey": rng.integers(0, n["supplier"], n["lineitem"]).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n["lineitem"]), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n["lineitem"]), 2),
        "l_discount": rng.integers(0, 11, n["lineitem"]) / 100,
        "l_tax": rng.integers(0, 9, n["lineitem"]) / 100,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n["lineitem"]),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n["lineitem"]),
        "l_shipdate": _days("1995-01-02", rng.integers(0, 2498, n["lineitem"])),
    })
    secs = np.sort(rng.uniform(0, 30 * 86_400, n["events"]))
    t["events"] = pa.table({
        "event_id": np.arange(n["events"], dtype=np.int64),
        "ts": _ts("2024-01-01", secs),
        "user_id": rng.integers(0, EVENT_USERS, n["events"]).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n["events"]),
        "value": np.round(rng.exponential(50, n["events"]), 2),
        "props": [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n["events"])],
    })
    t["documents"] = _documents(rng, n["documents"])
    t["embeddings"] = _embeddings(rng, n["embeddings"])
    return t


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    words = np.array(_WORDS)
    texts = [" ".join(rng.choice(words, rng.integers(10, 100))) for _ in range(n)]
    # near-duplicates: a copy of an earlier document with one token appended,
    # so the dedup and connected-components operators find real clusters
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i:
            texts[i] = texts[rng.integers(0, i)] + " dup"
    lang = rng.choice(_LANGS, n, p=[0.44, 0.14, 0.14, 0.14, 0.14])
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    labels = rng.integers(0, EMBED_LABELS, n)
    centres = rng.normal(size=(EMBED_LABELS, EMBED_DIM))
    vecs = 0.15 * centres[labels] + rng.normal(size=(n, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def etl_feed(rng: np.random.Generator) -> dict:
    """The pipeline's three inputs plus the counts a correct run writes."""
    clients = [
        (f"C{i:05d}", f"Client {i}", f"client{i}@example.com",
         str(dt.date(1950, 1, 1) + dt.timedelta(days=int(d))))
        for i, d in enumerate(rng.integers(0, 18_000, ETL_CLIENTS))
    ]
    accounts = []
    for cid, *_ in clients:
        for _ in range(int(rng.integers(0, 4))):
            accounts.append((len(accounts) + 1, cid))
    n_acc = len(accounts)
    # ids past the last account have no parent row (inner-join drop-out)
    acc = rng.integers(1, n_acc + 20, ETL_TX)
    secs = rng.integers(0, 120 * 86_400, ETL_TX)
    dup = np.flatnonzero(rng.random(ETL_TX) < ETL_DUP_SHARE)
    src = rng.integers(0, ETL_TX, dup.size)
    acc[dup], secs[dup] = acc[src], secs[src]
    amount = [f"{a:.2f}" for a in np.round(rng.uniform(1, 5000, ETL_TX), 2)]
    for i in np.flatnonzero(rng.random(ETL_TX) < ETL_BAD_AMOUNT_SHARE):
        amount[i] = ("N/A", "", None)[i % 3]
    base = dt.datetime(2024, 1, 1)
    tx = [
        {
            "transaction_id": i,
            "timestamp": (base + dt.timedelta(seconds=int(secs[i]))).isoformat(),
            "account_id": int(acc[i]),
            "amount": amount[i],
            "type": ("debit", "topup")[i % 2],
            "medium": ("card", "online", "atm")[i % 3],
        }
        for i in range(ETL_TX)
    ]
    pages = []
    for p, start in enumerate(range(0, ETL_TX, ETL_PAGE)):
        rows = tx[start:start + ETL_PAGE]
        # both envelope forms the source accepts
        pages.append(json.dumps({"results": rows} if p % 2 == 0 else rows).encode())
    # cleaning keeps one row per (timestamp, account_id); the view row counts
    # depend only on those keys
    keys = {(int(a), int(s)) for a, s in zip(acc, secs)}
    owner = dict(accounts)
    month = {s: (base + dt.timedelta(seconds=s)).strftime("%Y-%m") for _, s in keys}
    per_account_month: dict[tuple, int] = {}
    for a, s in keys:
        per_account_month[(month[s], a)] = per_account_month.get((month[s], a), 0) + 1
    return {
        "clients_csv": _csv(("client_id", "client_name", "client_email", "client_birth_date"), clients),
        "accounts_csv": _csv(("account_id", "client_id"), accounts),
        "pages": pages,
        "page_limit": ETL_PAGE,
        "n_tx": ETL_TX,
        "expected": {
            "clients": ETL_CLIENTS,
            "accounts": n_acc,
            "transactions": len(keys),
            "client_transaction_counts": len({owner[a] for a, _ in keys if a in owner}),
            "monthly_transaction_summary": len(
                {(month[s], owner[a]) for a, s in keys if a in owner}
            ),
            "high_transaction_accounts": sum(n > 2 for n in per_account_month.values()),
        },
    }


def _csv(header: tuple[str, ...], rows: list[tuple]) -> bytes:
    lines = [",".join(header)] + [",".join(map(str, r)) for r in rows]
    return ("\n".join(lines) + "\n").encode()


def corpus_dir(cache_root: str) -> str:
    """Write the corpus once and return its directory."""
    out = os.path.join(cache_root, f"corpus-{CORPUS_SEED}")
    if os.path.exists(os.path.join(out, "_READY")):
        return out
    tmp = f"{out}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in corpus_tables(np.random.default_rng(CORPUS_SEED)).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_READY"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)
    return out
