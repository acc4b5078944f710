"""Check query results against their DuckDB oracle.

Rows are canonicalised with ``canon`` from ``scripts/compare.py`` (the
repository's differential harness), so the benchmark and the harness
agree on what a match is.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb

from data_lake_project_spark.queries import ORACLE
from data_lake_project_spark.tables import TABLES


def _load_canon(root: str):
    path = os.path.join(root, "scripts", "compare.py")
    spec = importlib.util.spec_from_file_location("_lake_compare", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.canon


class Oracle:
    def __init__(self, root: str, sf_dir: str):
        self._canon = _load_canon(root)
        self._con = duckdb.connect()
        for t in TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"read_parquet('{sf_dir}/{t}.parquet')"
            )

    def close(self) -> None:
        self._con.close()

    def mismatch(self, name: str, cols: list[str], rows: list[tuple]) -> str | None:
        """Why the Spark result differs from the oracle, or None."""
        if name not in ORACLE:
            return None
        res = self._con.execute(ORACLE[name])
        d_cols = [d[0] for d in res.description]
        sc, sr = self._canon(rows, cols)
        dc, dr = self._canon(res.fetchall(), d_cols)
        if sc != dc:
            return f"columns {sc} vs {dc}"
        if len(sr) != len(dr):
            return f"rowcount {len(sr)} vs {len(dr)}"
        if sr != dr:
            return f"{sum(a != b for a, b in zip(sr, dr))} differing rows of {len(sr)}"
        return None
