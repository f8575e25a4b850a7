"""Reference answers the benchmark checks the program against.

- extraction: ``oracle.runner.run_oracle`` — the single-threaded pure-Python
  pass over the same docs, byte-identical per url by the repo's own gate;
- registry leaves: each leaf's ``oracle_sql()`` twin in DuckDB, compared by
  row count, sorted column names and the order-insensitive value hash the
  registry parity gate uses.

DuckDB runs on one thread so its time is a single-thread reference pass.
"""

from __future__ import annotations

import hashlib
import math
import time
from datetime import datetime
from pathlib import Path


def extract_oracle(rows: list[dict]) -> tuple[dict[str, tuple[str, int]], float]:
    """{url: (digest, n_pages)} and the seconds the serial pass took."""
    from deepseek_ocr_spark.oracle.runner import run_oracle

    t0 = time.perf_counter()
    out = run_oracle(rows)
    serial_s = time.perf_counter() - t0
    return {r["url"]: (r["digest"], r["n_pages"]) for r in out}, serial_s


def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(int(v))
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, (list, tuple, dict, set, bytes, bytearray)):
        raise TypeError(f"non-scalar result cell {type(v).__name__}")
    return str(v)


def value_hash(rows, colnames: list[str]) -> str:
    """Order-insensitive hash of a result under sorted column names."""
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def result_key(rows, colnames: list[str]) -> tuple:
    """What a leaf result is checked by: (sorted columns, row count, hash)."""
    return tuple(sorted(colnames)), len(rows), value_hash(rows, colnames)


def duckdb_oracle(sf_dir: Path, leaves: list[str]) -> tuple[dict[str, tuple], float]:
    """{leaf: result_key} from each leaf's DuckDB twin, and the seconds the
    single-thread DuckDB pass took."""
    import duckdb

    from deepseek_ocr_spark.entry_queries import oracle_sql

    sqls = oracle_sql()
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 1")
        for table in ("documents", "embeddings"):
            path = sf_dir / f"{table}.parquet"
            if path.exists():
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
        keys = {}
        t0 = time.perf_counter()
        for leaf in leaves:
            res = con.sql(sqls[leaf])
            keys[leaf] = result_key(res.fetchall(), res.columns)
        serial_s = time.perf_counter() - t0
    finally:
        con.close()
    return keys, serial_s
