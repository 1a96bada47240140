"""Output checks against the DuckDB oracles.

Values are hashed by the repository's oracle harness,
``tools/oracle_check.py::value_hash``: every value normalised, rows joined
in sorted-column order, lines sorted and hashed. Oracle results depend only
on the SQL text and the corpus, so they are cached per (SQL, corpus) digest
in the run's work directory.
"""

from __future__ import annotations

import hashlib
import json
import os

from tools.oracle_check import value_hash


def summary(columns: list[str], rows) -> dict:
    """Row count, sorted column names and order-insensitive value hash."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return {"rows": len(rows), "columns": sorted(columns), "hash": value_hash(rows, order)}


def corpus_digest(corpus: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(corpus)):
        with open(os.path.join(corpus, name), "rb") as f:
            h.update(name.encode())
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


class OracleCache:
    """DuckDB oracle summaries keyed by SQL text and corpus content."""

    def __init__(self, corpus: str, tables, path: str):
        self.corpus = corpus
        self.tables = tables
        self.path = path
        self._digest = corpus_digest(corpus)
        self._con = None
        try:
            with open(path) as f:
                self._cache = json.load(f)
        except (OSError, ValueError):
            self._cache = {}

    def expected(self, sql: str) -> dict:
        key = hashlib.sha256((self._digest + sql).encode()).hexdigest()
        if key not in self._cache:
            res = self._connect().sql(sql)
            self._cache[key] = summary(list(res.columns), res.fetchall())
            tmp = f"{self.path}.{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self._cache, f)
            os.replace(tmp, self.path)
        return self._cache[key]

    def _connect(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in self.tables:
                self._con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{self.corpus}/{t}.parquet')"
                )
        return self._con

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
