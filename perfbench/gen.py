"""Seeded input generator for the benchmark workloads.

Every table is synthesized from a FIXED base seed, so all runs of a
workload see the same rows; ``--seed`` only decides what the workload says
it varies: the row order of every table, and for ``pipelines`` which
documents are char-salted.  The schemas are those FIXTURES.md gives for the
engine's driver tables (TPC-H-like star schema, an ``events`` stream with
nanosecond ``ts``, a ``documents`` corpus and an ``embeddings`` matrix).
``olap_headline`` has the sf0.1 row counts and key ranges; ``pipelines``
has 500 cells and 600 documents, near the sf0.01 sizes.
"""

from __future__ import annotations

import os
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240901

#: olap_headline: the driver tables' sf0.1 row counts and key ranges.
N_CUSTOMER = 15_000
N_ORDERS = 150_000
N_LINEITEM = 600_000
N_PARTS = 20_000
N_SUPPLIERS = 1_000
N_EVENTS = 100_000
N_USERS = 1_500
N_OLAP_DOCS = 5_000
N_OLAP_CELLS = 2_000

N_CELLS = 500
DIM = 64
N_LABELS = 10

WORDS = (
    "the a key agg row scan slow fast table value part hash merge batch spark "
    "line sort window data column join small customer query order group "
    "stream filter big vector"
).split()

#: pipelines' corpus: documents derived from an earlier one — exact copies,
#: case/punctuation variants (caught by the normalized-exact tier) and
#: token-edited near-duplicates (the LSH tier's work) — then this share of
#: all documents char-salted (SCALE.md §24b), which gives every salted
#: document doc-unique 5-gram windows, so it shares no LSH bucket.
N_DOCS = 600
SALT_SHARE = 0.5


def _permute(table: pa.Table, rng: np.random.Generator) -> pa.Table:
    return table.take(pa.array(rng.permutation(table.num_rows)))


def _days(rng, n, start: str, end: str) -> np.ndarray:
    """Dates as the driver stores them: timestamp[ms] at midnight."""
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span, n)).astype("datetime64[ms]")


def olap_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
    segments = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    customer = pa.table(
        {
            "c_custkey": np.arange(N_CUSTOMER, dtype=np.int64),
            "c_name": [f"Customer#{k:09d}" for k in range(N_CUSTOMER)],
            "c_nationkey": rng.integers(0, 25, N_CUSTOMER).astype(np.int32),
            "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, N_CUSTOMER), 2),
            "c_mktsegment": segments[rng.integers(0, 5, N_CUSTOMER)],
        }
    )
    orders = pa.table(
        {
            "o_orderkey": np.arange(N_ORDERS, dtype=np.int64),
            "o_custkey": rng.integers(0, N_CUSTOMER, N_ORDERS).astype(np.int64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, N_ORDERS)],
            "o_totalprice": np.round(rng.uniform(900.0, 500_000.0, N_ORDERS), 2),
            "o_orderdate": _days(rng, N_ORDERS, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
            )[rng.integers(0, 5, N_ORDERS)],
        }
    )
    qty = rng.integers(1, 51, N_LINEITEM).astype(np.float64)
    lineitem = pa.table(
        {
            "l_orderkey": rng.integers(0, N_ORDERS, N_LINEITEM).astype(np.int64),
            "l_partkey": rng.integers(0, N_PARTS, N_LINEITEM).astype(np.int64),
            "l_suppkey": rng.integers(0, N_SUPPLIERS, N_LINEITEM).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, N_LINEITEM).astype(np.int32),
            "l_quantity": qty,
            "l_extendedprice": np.round(qty * rng.uniform(900.0, 3_000.0, N_LINEITEM), 2),
            "l_discount": rng.integers(0, 11, N_LINEITEM) / 100.0,
            "l_tax": rng.integers(0, 9, N_LINEITEM) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, N_LINEITEM)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, N_LINEITEM)],
            "l_shipdate": _days(rng, N_LINEITEM, "1995-01-02", "2001-11-04"),
        }
    )
    # timestamp[ns], as the driver stores ``events.ts`` (FIXTURES.md);
    # microsecond values, as in the driver's files.
    t0 = np.datetime64(datetime(2024, 1, 1), "ns")
    us = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    ts = t0 + (us * 1_000).astype("timedelta64[ns]")
    events = pa.table(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": ts,
            "user_id": rng.integers(0, N_USERS, N_EVENTS).astype(np.int64),
            "event_type": np.array(["click", "view", "purchase", "error", "signup"])[
                rng.integers(0, 5, N_EVENTS)
            ],
            "value": np.round(rng.uniform(0.0, 100.0, N_EVENTS), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, N_EVENTS)],
        }
    )
    return {"customer": customer, "orders": orders, "lineitem": lineitem, "events": events}


def embeddings_table(rng: np.random.Generator, n: int = N_CELLS) -> pa.Table:
    """``n`` cells in ``N_LABELS`` gaussian clusters of ``DIM`` float32 genes."""
    centers = rng.normal(0.0, 0.12, (N_LABELS, DIM))
    labels = rng.integers(0, N_LABELS, n)
    x = (centers[labels] + rng.normal(0.0, 0.08, (n, DIM))).astype(np.float32)
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.FixedSizeListArray.from_arrays(pa.array(x.ravel()), DIM).cast(
                pa.list_(pa.float32())
            ),
            "label": labels.astype(np.int32),
        }
    )


def _text(rng: np.random.Generator) -> str:
    p = 1.0 / np.arange(1, len(WORDS) + 1)
    return " ".join(np.array(WORDS)[rng.choice(len(WORDS), rng.integers(20, 80), p=p / p.sum())])


def _variant(rng: np.random.Generator, text: str) -> str:
    kind = rng.integers(0, 3)
    if kind == 0:  # exact copy
        return text
    if kind == 1:  # same tokens after lower-casing and punctuation stripping
        toks = text.split()
        return " ".join(t.upper() if rng.random() < 0.3 else t + "," for t in toks)
    toks = text.split()  # near-duplicate: a few token substitutions
    for i in rng.choice(len(toks), max(1, len(toks) // 20), replace=False):
        toks[i] = WORDS[rng.integers(0, len(WORDS))]
    return " ".join(toks)


def documents_table(rng: np.random.Generator, n: int = N_DOCS) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        if texts and rng.random() < 0.4:
            texts.append(_variant(rng, texts[rng.integers(0, len(texts))]))
        else:
            texts.append(_text(rng))
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.choice(5, n, p=[0.6, 0.1, 0.1, 0.1, 0.1])]
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": langs,
            "source": [f"src{i % 20}" for i in range(n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _base36(k: int) -> str:
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    out = ""
    while True:
        k, r = divmod(k, 36)
        out = digits[r] + out
        if not k:
            return out


def salt_documents(docs: pa.Table, rng: np.random.Generator, share: float) -> pa.Table:
    """Char-salt ``share`` of the documents (chosen by ``rng``): a base-36
    doc-id salt after every 4 characters, so every 5-gram is doc-unique."""
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    for i in rng.choice(len(texts), int(round(share * len(texts))), replace=False):
        salt = "~" + _base36(int(ids[i]))
        t = texts[i]
        texts[i] = "".join(t[j : j + 4] + salt for j in range(0, len(t), 4))
    return docs.set_column(
        docs.schema.get_field_index("text"), "text", pa.array(texts)
    ).set_column(
        docs.schema.get_field_index("n_chars"),
        "n_chars",
        pa.array([len(t) for t in texts], pa.int64()),
    )


def tables_for(workload: str, seed: int) -> dict[str, pa.Table]:
    """The generated tables of ``workload`` under run seed ``seed``."""
    base = np.random.default_rng(BASE_SEED)
    if workload == "olap_headline":
        tables = olap_tables(base)
        tables["documents"] = documents_table(base, N_OLAP_DOCS)
        tables["embeddings"] = embeddings_table(base, N_OLAP_CELLS)
    elif workload == "pipelines":
        tables = {
            "embeddings": embeddings_table(base),
            "documents": salt_documents(
                documents_table(base), np.random.default_rng(seed), SALT_SHARE
            ),
        }
    else:
        raise ValueError(f"unknown workload {workload!r}")
    rng = np.random.default_rng([seed, 1])
    return {name: _permute(t, rng) for name, t in sorted(tables.items())}


def write_inputs(workload: str, seed: int, out_dir: str) -> dict[str, dict]:
    """Write the workload's tables as ``<out_dir>/<table>.parquet``; return
    rows and MB per table for the input manifest."""
    os.makedirs(out_dir, exist_ok=True)
    manifest = {}
    for name, table in tables_for(workload, seed).items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(table, path)
        manifest[name] = {"rows": table.num_rows, "mb": round(os.path.getsize(path) / 2**20, 4)}
    return manifest
