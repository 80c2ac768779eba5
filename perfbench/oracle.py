"""Corpus-query correctness: Spark rows vs the DuckDB ``ORACLE`` SQL.

Both sides are reduced to an order-insensitive multiset of type-tagged
values (columns sorted by name, so column order does not matter either);
a DuckDB DECIMAL and a Spark DOUBLE that print alike do not compare
equal. Only a digest of each oracle result is kept.

The digests of the corpus tables in ``data/sf0.01`` are cached in
``data/oracle_digests.json``, each with the SHA-256 of the tables and of
the SQL it came from; a digest whose SQL or tables changed is computed
again. Refresh the cache from the repository root with
``python3 perfbench/oracle.py``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
import sys

import duckdb

HERE = os.path.dirname(os.path.abspath(__file__))
#: the corpus tables (the TPC-H-ish scale-0.01 set, one parquet each)
TABLES_DIR = os.path.join(HERE, "data", "sf0.01")
CACHE = os.path.join(HERE, "data", "oracle_digests.json")


def _norm(v) -> str:
    if v is None:
        return "\0NULL"
    if isinstance(v, bool):
        return f"bool:{v}"
    if isinstance(v, float):
        return "float:NaN" if math.isnan(v) else f"float:{v!r}"
    if isinstance(v, dt.datetime):
        return f"ts:{v.replace(tzinfo=None).isoformat()}"
    if isinstance(v, dt.date):
        return f"date:{v.isoformat()}"
    return f"{type(v).__name__}:{v}"


def digest(columns: list[str], rows: list[tuple]) -> str:
    """Order-insensitive digest of a result set."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(
        "\x1f".join(_norm(r[i]) for i in order) for r in rows
    )
    h = hashlib.sha256("\x1e".join(sorted(columns)).encode())
    h.update(f"#{len(lines)}".encode())
    for line in lines:
        h.update(b"\x1e" + line.encode())
    return h.hexdigest()


def tables(table_dir: str) -> list[str]:
    return sorted(f[:-len(".parquet")] for f in os.listdir(table_dir)
                  if f.endswith(".parquet"))


def _sha(data: bytes) -> str:
    return hashlib.sha256(data).hexdigest()


def tables_sha(table_dir: str) -> str:
    h = hashlib.sha256()
    for t in tables(table_dir):
        with open(f"{table_dir}/{t}.parquet", "rb") as fh:
            h.update(t.encode() + b"\0" + fh.read())
    return h.hexdigest()


def oracle_digests(table_dir: str, sql: dict[str, str]) -> dict[str, str]:
    """Run each oracle query on DuckDB over the parquet tables."""
    con = duckdb.connect()
    try:
        for t in tables(table_dir):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'"
            )
        out = {}
        for name, q in sql.items():
            res = con.execute(q)
            cols = [d[0] for d in res.description]
            out[name] = digest(cols, res.fetchall())
        return out
    finally:
        con.close()


def expected_digests(sql: dict[str, str]) -> dict[str, str]:
    """The digest of each query's oracle result on :data:`TABLES_DIR`:
    from the cache where it is current, computed otherwise."""
    try:
        with open(CACHE, encoding="utf-8") as fh:
            cache = json.load(fh)
    except FileNotFoundError:
        cache = {"tables": None, "queries": {}}
    fresh = cache["tables"] == tables_sha(TABLES_DIR)
    out, stale = {}, {}
    for name, q in sql.items():
        hit = cache["queries"].get(name)
        if fresh and hit and hit["sql"] == _sha(q.encode()):
            out[name] = hit["digest"]
        else:
            stale[name] = q
    if stale:
        out.update(oracle_digests(TABLES_DIR, stale))
    return out


def write_cache(sql: dict[str, str]) -> None:
    digests = oracle_digests(TABLES_DIR, sql)
    cache = {
        "tables": tables_sha(TABLES_DIR),
        "queries": {name: {"sql": _sha(q.encode()), "digest": digests[name]}
                    for name, q in sorted(sql.items())},
    }
    with open(CACHE, "w", encoding="utf-8") as fh:
        json.dump(cache, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(HERE))
    from bench import HEADLINE
    from sales_data_warehouse_spark.queries.corpus import ORACLE

    write_cache({q: ORACLE[q] for q in HEADLINE})
