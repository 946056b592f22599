"""DuckDB answers the benchmark checks the program's outputs against.

Every answer comes from the registry's own ``oracle_sql()`` text, run on
DuckDB over the same generated parquet files the program reads. The
``/recs`` answers substitute the requested id into the ``recs_*`` oracle
SQL (whose seed literal is ``1``) and apply the same try-then-fallback
as ``recommend``. All of this runs outside every timed phase.
"""

from __future__ import annotations

import functools
import re
from pathlib import Path

import duckdb

# The seed literal in the recs_* oracle SQL: ``<key column> = 1`` and
# ``<key column> <> 1``.
_SEED = re.compile(r"\b((?:product_id|p_partkey|o_custkey)\s*(?:=|<>)\s*)1\b")

RECS_SQL = {
    "product_id": ("recs_product_cooccurrence", "recs_product_same_brand"),
    "customer_id": ("recs_customer_cf", "recs_customer_brand_fallback"),
}


def with_seed(sql: str, key: int) -> str:
    out, n = _SEED.subn(lambda m: f"{m.group(1)}{int(key)}", sql)
    if n == 0:
        raise ValueError("oracle SQL has no seed literal to substitute")
    return out


class Oracle:
    def __init__(self, corpus_dir: Path, tables):
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in tables:
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{corpus_dir}/{t}.parquet'")

    @functools.cached_property
    def sql(self) -> dict[str, str]:
        """The registry's oracle SQL, read on first use (after the program
        has been imported and timed)."""
        import __spark_entry__

        return __spark_entry__.oracle_sql()

    def close(self) -> None:
        self.con.close()

    def rows(self, sql: str) -> tuple[list[str], list[tuple]]:
        res = self.con.execute(sql)
        return [d[0] for d in res.description], res.fetchall()

    def registry_matches(self, name: str, cols: list[str], rows: list[tuple]) -> bool:
        """Whether a registry query's output equals its oracle twin's, both
        canonicalized by ``tools/oracle_check.canon_rows`` (order- and
        column-order-insensitive, floats at full precision)."""
        from tools.oracle_check import canon_rows

        return canon_rows(cols, rows) == canon_rows(*self.rows(self.sql[name]))

    def recs(self, param: str, key: int) -> list[tuple]:
        """``[(product_id, score, reason), ...]`` that ``GET /recs?param=key``
        must answer, in rank order."""
        primary, fallback = RECS_SQL[param]
        rows = self.rows(with_seed(self.sql[primary], key))[1]
        if not rows:
            rows = self.rows(with_seed(self.sql[fallback], key))[1]
        return [(int(p), float(s), r) for p, s, r in rows]

    def use_lineitem(self, relation: str) -> None:
        """Point ``lineitem`` at another relation (the rows ingested so far)."""
        self.con.execute(f"CREATE OR REPLACE VIEW lineitem AS SELECT * FROM {relation}")
