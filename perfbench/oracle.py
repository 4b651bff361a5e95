"""Order-insensitive comparison of query outputs against the DuckDB oracle.

Both sides are reduced to the same digest with the semantics of
``tools.oracle_check.compare``: column names lower-cased and sorted, the
row count, and the rows of ``tools.oracle_check.norm_rows`` (cells in
column-name order rendered by ``norm_cell``, rows sorted), hashed.  The
Spark side is the Arrow table of the first pass, the oracle side the rows
DuckDB fetches, as ``compare`` fetches them.

The oracle side is computed once per (query, SQL, input files) and cached,
because the inputs are read-only.
"""

from __future__ import annotations

import hashlib
import json
import os

from tools.oracle_check import norm_rows


def digest(columns: list[str], rows: list[tuple]) -> dict:
    """Canonical digest of a result: columns, row count, sha256 of the
    ``norm_rows`` rendering."""
    names = [c.lower() for c in columns]
    h = hashlib.sha256()
    for row in norm_rows(names, rows):
        h.update(("\x1f".join(row) + "\x1e").encode())
    return {"columns": sorted(names), "rows": len(rows), "sha256": h.hexdigest()}


def table_digest(table) -> dict:
    """``digest`` of a pyarrow Table, its cells as Python values."""
    rows = list(zip(*(col.to_pylist() for col in table.columns)))
    return digest(table.column_names, rows)


def mismatch(got: dict, want: dict) -> str | None:
    """Why two digests differ, or None when they match."""
    if got["columns"] != want["columns"]:
        return f"column mismatch: spark={got['columns']} oracle={want['columns']}"
    if got["rows"] != want["rows"]:
        return f"row count: spark={got['rows']} oracle={want['rows']}"
    if got["sha256"] != want["sha256"]:
        return "values differ"
    return None


class Oracle:
    """DuckDB over the benchmark's parquet files, with an on-disk cache of
    result digests keyed by query, SQL text and input-file checksums."""

    def __init__(self, data_dir: str, checksums: str, cache_dir: str, threads: int):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.threads = threads
        self.inputs_key = hashlib.sha256(checksums.encode()).hexdigest()
        self._con = None

    def _connection(self):
        if self._con is None:
            import duckdb

            spill = os.path.join(self.cache_dir, "duckdb_tmp")
            os.makedirs(spill, exist_ok=True)
            con = duckdb.connect(
                config={
                    "threads": self.threads,
                    "memory_limit": "2GB",
                    "temp_directory": spill,
                }
            )
            for fname in sorted(os.listdir(self.data_dir)):
                if fname.endswith(".parquet"):
                    path = os.path.join(self.data_dir, fname).replace("'", "''")
                    con.sql(
                        f"CREATE VIEW {fname[: -len('.parquet')]} AS "
                        f"SELECT * FROM read_parquet('{path}')"
                    )
            self._con = con
        return self._con

    def expected(self, name: str, sql: str) -> dict:
        key = hashlib.sha256(
            "\0".join([name, sql, self.inputs_key]).encode()
        ).hexdigest()[:24]
        path = os.path.join(self.cache_dir, f"{name}-{key}.json")
        if os.path.exists(path):
            with open(path) as fh:
                return json.load(fh)
        result = self._connection().sql(sql)
        want = digest([d[0] for d in result.description], result.fetchall())
        os.makedirs(self.cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        with open(tmp, "w") as fh:
            json.dump(want, fh)
        os.replace(tmp, path)
        return want

    def close(self) -> None:
        if self._con is not None:
            self._con.close()
            self._con = None
