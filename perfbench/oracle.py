"""Output check: each slot's rows against its DuckDB ``oracle_sql()`` twin.

Compares row count, column names and the order-insensitive value hash of
``tools/check_oracle.py``, the repository's correctness gate, whose
normal form (``norm_cell``/``table_hash``) is imported, not copied.
Oracle results are cached under the work directory, keyed by the SQL
text and the bytes of every input table it names, so the fixed
text/vector corpus is queried once per checkout.
"""

from __future__ import annotations

import functools
import hashlib
import importlib
import json
import re
import sys
from pathlib import Path

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings".split()
)


@functools.cache
def _gate():
    """``tools/check_oracle.py``, loaded on first use so that this module
    imports outside a repository checkout."""
    sys.path.insert(0, str(Path(__file__).resolve().parent.parent / "tools"))
    return importlib.import_module("check_oracle")


def table_digest(cols: list[str], rows: list) -> dict:
    """{"rows": n, "cols": sorted names, "hash": the gate's table_hash}."""
    return {"rows": len(rows), "cols": sorted(cols), "hash": _gate().table_hash(cols, rows)}


class OracleCache:
    """DuckDB oracle digests over one data directory, cached on disk."""

    def __init__(self, data_dir: Path, cache_dir: Path):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self._con = None
        self._file_sha: dict[str, str] = {}

    def _table_sha(self, name: str) -> str:
        if name not in self._file_sha:
            data = (self.data_dir / f"{name}.parquet").read_bytes()
            self._file_sha[name] = hashlib.sha256(data).hexdigest()
        return self._file_sha[name]

    def _key(self, sql: str) -> str:
        h = hashlib.sha256(sql.encode())
        for t in TABLES:
            if re.search(rf"\b{t}\b", sql):
                h.update(f"{t}:{self._table_sha(t)}".encode())
        return h.hexdigest()

    def _connection(self):
        if self._con is None:
            import duckdb

            self._con = duckdb.connect()
            for t in TABLES:
                self._con.sql(
                    f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{self.data_dir / t}.parquet'"
                )
        return self._con

    def digest(self, sql: str) -> dict:
        path = self.cache_dir / f"{self._key(sql)}.json"
        if path.exists():
            return json.loads(path.read_text())
        res = self._connection().sql(sql)
        out = table_digest(list(res.columns), res.fetchall())
        self.cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(out))
        tmp.replace(path)
        return out

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
