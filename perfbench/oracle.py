"""Expected query results from each query's DuckDB oracle, cached per corpus.

An expectation is computed once per (corpus content, oracle SQL) pair and
kept on disk: some oracles take a minute at sf0.1, far longer than a
benchmark run may spend. The key is ``catalog.content_fingerprint`` of
every corpus table plus a hash of the oracle text, so a rebuilt corpus
or an edited oracle never serves a stale expectation.

Results are compared the way the local correctness gate compares them,
with ``_multiset`` (order-insensitive value multiset) and
``_type_mismatches`` (Arrow type classes) from ``scripts/local_gate.py``.
"""

from __future__ import annotations

import hashlib
import os
import pickle
from collections import namedtuple

import duckdb

import local_gate
from velox_hadoop_spark.catalog import TABLES, content_fingerprint

# stands in for a pyarrow field in local_gate._type_mismatches
_Field = namedtuple("_Field", "name type")


def corpus_fingerprint(sf_dir: str) -> str:
    parts = [content_fingerprint(f"{sf_dir}/{t}.parquet") for t in TABLES]
    return hashlib.md5("|".join(parts).encode()).hexdigest()[:16]


class OracleCache:
    """Expectations for one corpus, computed on first use and kept in
    ``cache_dir``. Files hold only what this class pickled itself."""

    def __init__(self, sf_dir: str, cache_dir: str, threads: int):
        self.sf_dir = sf_dir
        self.cache_dir = cache_dir
        self.threads = threads
        self.fingerprint = corpus_fingerprint(sf_dir)
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _duck(self):
        if self._con is None:
            self._con = duckdb.connect()
            self._con.sql(f"SET threads = {self.threads}")
            for t in TABLES:
                self._con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'"
                )
        return self._con

    def _path(self, name: str, sql: str) -> str:
        key = hashlib.sha256(f"{self.fingerprint}\n{sql}".encode()).hexdigest()[:20]
        return os.path.join(self.cache_dir, f"{name}.{key}.pkl")

    def expected(self, name: str, sql: str) -> dict:
        """``{"cols", "rows", "fields"}`` for one oracle on this corpus."""
        path = self._path(name, sql)
        if os.path.exists(path):
            with open(path, "rb") as f:
                return pickle.load(f)
        schema = self._duck().sql(f"SELECT * FROM ({sql}) LIMIT 0").arrow().schema
        fields = [_Field(f.name, str(f.type)) for f in schema]
        rel = self._duck().sql(sql)
        rows, sorted_cols = local_gate._multiset([d[0] for d in rel.description], rel.fetchall())
        exp = {"cols": sorted_cols, "rows": rows, "fields": fields}
        tmp = path + ".tmp"
        with open(tmp, "wb") as f:
            pickle.dump(exp, f)
        os.replace(tmp, path)
        return exp

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None


def mismatch(expected: dict, dtypes, cols, rows) -> str | None:
    """Why a Spark result differs from its expectation, or None."""
    type_bad = local_gate._type_mismatches(dtypes, expected["fields"])
    if type_bad:
        return f"type-class {type_bad}"
    try:
        got, got_cols = local_gate._multiset(cols, rows)
    except TypeError as exc:  # nested values the gate's canonicalizer rejects
        return str(exc)
    if got_cols != expected["cols"]:
        return f"cols spark={got_cols} duck={expected['cols']}"
    if len(got) != len(expected["rows"]):
        return f"rows spark={len(got)} duck={len(expected['rows'])}"
    if got != expected["rows"]:
        diff = [(a, b) for a, b in zip(got, expected["rows"]) if a != b][:2]
        return f"values differ; first {diff}"
    return None
