"""DuckDB oracle over the same generated parquet the index was built from.

The engine's renamed dimension views (``custnation`` ...) are registered so
the generated SQL text runs unchanged. ``restrict_lineitem`` narrows the
fact table to the ingest slices committed when a read ran.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import duckdb

from datagen import STAR_TABLES

DIM_VIEWS = {
    "custnation": "SELECT n_nationkey AS cn_nationkey, n_name AS c_nation,"
    " n_regionkey AS cn_regionkey FROM nation",
    "custregion": "SELECT r_regionkey AS cr_regionkey, r_name AS c_region FROM region",
    "suppnation": "SELECT n_nationkey AS sn_nationkey, n_name AS s_nation,"
    " n_regionkey AS sn_regionkey FROM nation",
    "suppregion": "SELECT r_regionkey AS sr_regionkey, r_name AS s_region FROM region",
}
REL_TOL = 1e-6


class Oracle:
    def __init__(self, data_dir: str, threads: int, slices: int):
        """lineitem is loaded with a ``__slice`` column (``ingest_slice``
        over ``slices`` slices) and exposed through a restrictable view."""
        self.con = duckdb.connect()
        self.con.execute(f"SET threads = {threads}")
        self.con.execute("SET enable_progress_bar = false")
        for t in STAR_TABLES:
            src = f"read_parquet('{os.path.join(data_dir, f'{t}.parquet')}')"
            if t == "lineitem":
                self.con.execute(
                    f"CREATE TABLE lineitem_all AS SELECT *,"
                    f" {ingest_slice('l_orderkey', slices)} AS __slice FROM {src}"
                )
            else:
                self.con.execute(f"CREATE TABLE {t} AS SELECT * FROM {src}")
        for name, body in DIM_VIEWS.items():
            self.con.execute(f"CREATE VIEW {name} AS {body}")
        self.restrict_lineitem(list(range(slices)))

    def restrict_lineitem(self, committed: list[int]) -> None:
        ids = ", ".join(str(int(s)) for s in sorted(committed))
        self.con.execute(
            "CREATE OR REPLACE VIEW lineitem AS SELECT * EXCLUDE (__slice)"
            f" FROM lineitem_all WHERE __slice IN ({ids})"
        )

    def rows(self, sql: str) -> list[tuple]:
        return self.con.execute(sql).fetchall()

    def close(self) -> None:
        self.con.close()


def ingest_slice(col: str, slices: int) -> str:
    """SQL (valid in Spark and DuckDB) for the ingest slice of an order key.
    TPC-H order keys come in runs of 8 per 32, so slicing on ``key DIV 32``
    spreads orders evenly."""
    return f"(CAST(FLOOR({col} / 32) AS BIGINT) % {slices})"


# --------------------------------------------------------------- compare
def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    return v


def _sort_key(row):
    out = []
    for v in row:
        if v is None:
            out.append((0, ""))
        elif isinstance(v, float):
            out.append((1, float(f"{v:.6g}") if math.isfinite(v) else str(v)))
        elif isinstance(v, (int, bool)):
            out.append((1, float(v)))
        else:
            out.append((2, str(v)))
    return out


def _same(a, b) -> bool:
    if a is None or b is None:
        return a is b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) and math.isnan(a):
            return isinstance(b, float) and math.isnan(b)
        return math.isclose(a, b, rel_tol=REL_TOL, abs_tol=1e-9)
    return a == b


def same_rows(got, want) -> bool:
    """Multiset equality with a relative float tolerance."""
    if len(got) != len(want):
        return False
    g = sorted(([_norm(v) for v in r] for r in got), key=_sort_key)
    w = sorted(([_norm(v) for v in r] for r in want), key=_sort_key)
    return all(
        len(x) == len(y) and all(_same(p, q) for p, q in zip(x, y))
        for x, y in zip(g, w)
    )
