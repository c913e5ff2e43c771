"""DuckDB oracle answers for registered queries, computed once per fixture
and query, compared with the repository's own ``tools/check_oracle.compare``
(exact values, order-insensitive)."""

from __future__ import annotations

import importlib.util
import os

import duckdb

import fixture

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_compare():
    """``compare(name, spark_rows, spark_cols, duck_rows, duck_cols)`` from
    ``tools/check_oracle.py``, imported by path (``tools`` is no package)."""
    path = os.path.join(ROOT, "tools", "check_oracle.py")
    spec = importlib.util.spec_from_file_location("check_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.compare


class OracleCache:
    def __init__(self, sf_dir: str):
        from ecommerce_event_pipeline_spark.registry import oracle_sql

        self.sql = oracle_sql()
        self.compare_fn = load_compare()
        self.con = duckdb.connect()
        for t in fixture.TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(sf_dir, t)}.parquet'"
            )
        self.answers: dict[str, tuple[list, list]] = {}

    def answer(self, name: str) -> tuple[list, list]:
        if name not in self.answers:
            rel = self.con.sql(self.sql[name])
            self.answers[name] = (list(rel.columns), rel.fetchall())
        return self.answers[name]

    def count(self, sql: str) -> int:
        return int(self.con.sql(sql).fetchone()[0])

    def compare(self, name: str, cols: list, rows: list) -> list[str]:
        """Problems with one Spark result; empty when it matches the oracle."""
        if name not in self.sql:
            return [] if rows else [f"{name}: no rows and no oracle"]
        duck_cols, duck_rows = self.answer(name)
        return self.compare_fn(name, rows, list(cols), duck_rows, duck_cols)

    def close(self) -> None:
        self.con.close()
