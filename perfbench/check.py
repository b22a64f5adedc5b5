"""Output check against each query's registered DuckDB oracle.

Both sides are reduced to (row count, sorted column names, normalized value
hash) with ``tools/check_correctness.py``'s ``value_hash``, the repository's
correctness gate. The oracle side is cached per generated dataset: the cache
key covers the bytes of every input table and the oracle SQL text, so a
changed dataset or oracle is never served a stale hash.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os

from inputs import TABLES


def _load_gate(root: str):
    path = os.path.join(root, "tools", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


class OracleCheck:
    def __init__(self, root: str, data_dir: str, cache_dir: str) -> None:
        self.gate = _load_gate(root)
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        h = hashlib.sha256()
        for name in TABLES:
            with open(os.path.join(data_dir, f"{name}.parquet"), "rb") as f:
                h.update(f.read())
        self.data_hash = h.hexdigest()

    def digest(self, cols: list[str], rows: list[tuple]) -> dict:
        return {"rows": len(rows), "cols": sorted(cols), "hash": self.gate.value_hash(cols, rows)}

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256(f"{self.data_hash}\0{name}\0{sql}".encode()).hexdigest()[:32]
        path = os.path.join(self.cache_dir, f"{key}.json")
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb

        with duckdb.connect() as con:
            for t in TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.data_dir}/{t}.parquet')")
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            out = self.digest(cols, cur.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as f:
            json.dump(out, f)
        os.replace(tmp, path)
        return out
