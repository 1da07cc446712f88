"""Correctness check of the benchmark's query results against the
registry's DuckDB oracle, canonicalised exactly as ``tools/driver_mimic.py``
does (``tests.conftest.canon_frame``)."""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb

from tests.conftest import canon_frame


def connect(data_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(f"SET threads TO {int(threads)}")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(path)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    return con


def input_digest(data_dir: str) -> str:
    h = hashlib.sha256()
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        h.update(os.path.basename(path).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def expected(con, name: str, sql: str, digest: str, cache_dir: str) -> tuple[list, list]:
    """The oracle's canonical (columns, rows) for ``name``, cached on disk
    by the digest of the query text and the input files."""
    key = hashlib.sha256(f"{name}\0{sql}\0{digest}".encode()).hexdigest()
    path = os.path.join(cache_dir, f"{key}.json")
    if os.path.exists(path):
        with open(path) as f:
            cols, rows = json.load(f)
        return cols, [tuple(r) for r in rows]
    cols, rows = canon_frame(con.sql(sql).df())
    os.makedirs(cache_dir, exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump([cols, rows], f)
    os.replace(tmp, path)
    return cols, rows


def mismatch(actual_pdf, want: tuple[list, list]) -> str | None:
    """None when ``actual_pdf`` equals the oracle result, else the reason."""
    cols, rows = canon_frame(actual_pdf)
    wcols, wrows = want
    if cols != wcols:
        return f"columns {cols} != oracle {wcols}"
    if rows != wrows:
        diff = [(a, b) for a, b in zip(rows, wrows) if a != b][:2]
        return f"rows {len(rows)} vs oracle {len(wrows)}; first diffs {diff}"
    return None
