"""Output checks for the benchmark.

Graded queries compare row count and the order-insensitive value
multiset with their DuckDB oracle over the same data directory,
normalized exactly as ``tools/check_oracle.py`` does. ``compare``
returns ``None`` when the output is right and a one-line reason when it
is not.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

import duckdb

from itdb_spark.catalog import TESTDATA_TABLES
from tools.check_oracle import normalize


def oracle_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


class Oracle:
    """Normalized DuckDB oracle answers over one data directory, cached
    on disk under a key of the oracle SQL and the data's bytes: the
    quadratic containment oracles take tens of seconds, and their answer
    can only change when the SQL or the data does."""

    def __init__(self, sf_dir: str, cache_dir: str):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for path in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
            with open(path, "rb") as f:
                h.update(f.read())
        self.data_digest = h.hexdigest()
        self.con = None

    def expected(self, sql: str) -> tuple[list[str], list[tuple]]:
        key = hashlib.sha256((self.data_digest + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".json")
        if os.path.exists(path):
            with open(path) as f:
                cols, rows = json.load(f)
            return cols, [tuple(r) for r in rows]
        if self.con is None:
            self.con = oracle_connection(self.sf_dir)
        res = self.con.cursor().execute(sql)
        cols, rows = normalize(res.fetchall(), [d[0] for d in res.description])
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump([cols, rows], f)
        os.replace(tmp, path)
        return cols, rows

    def close(self) -> None:
        if self.con is not None:
            self.con.close()


def compare(got: tuple[list[str], list[tuple]], want: tuple[list[str], list[tuple]]) -> str | None:
    """``got`` as collected (columns, rows); ``want`` already normalized."""
    gc, gr = normalize(got[1], got[0])
    wc, wr = want
    if gc != wc:
        return f"columns {gc} != {wc}"
    if len(gr) != len(wr):
        return f"row count {len(gr)} != {len(wr)}"
    if gr != wr:
        wset, gset = set(wr), set(gr)
        extra = [r for r in gr if r not in wset][:2]
        missing = [r for r in wr if r not in gset][:2]
        return f"values differ: unexpected {extra} missing {missing}"
    return None
