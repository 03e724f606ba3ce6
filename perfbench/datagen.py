"""Star-schema inputs for the benchmark, generated inside the checkout.

DuckDB's bundled TPC-H generator (``CALL dbgen``) is deterministic for a
given scale factor, so two checkouts generate byte-identical tables. The
tables are projected onto the column set and types ``pysparkline.tpch``
expects (int64 keys, double measures, ``timestamp[us]`` dates, one parquet
file per table) and written with pyarrow.

Only the star tables are generated: the workload seed never changes the
data, it changes the statements and the ingest slicing.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

# table -> SELECT list over the dbgen table of the same name
PROJECTIONS = {
    "region": "CAST(r_regionkey AS INTEGER) r_regionkey, r_name",
    "nation": (
        "CAST(n_nationkey AS INTEGER) n_nationkey, n_name,"
        " CAST(n_regionkey AS INTEGER) n_regionkey"
    ),
    "customer": (
        "CAST(c_custkey AS BIGINT) c_custkey, c_name,"
        " CAST(c_nationkey AS INTEGER) c_nationkey,"
        " CAST(c_acctbal AS DOUBLE) c_acctbal, c_mktsegment"
    ),
    "supplier": (
        "CAST(s_suppkey AS BIGINT) s_suppkey, s_name,"
        " CAST(s_nationkey AS INTEGER) s_nationkey,"
        " CAST(s_acctbal AS DOUBLE) s_acctbal"
    ),
    "part": (
        "CAST(p_partkey AS BIGINT) p_partkey, p_name, p_brand, p_type,"
        " CAST(p_size AS INTEGER) p_size,"
        " CAST(p_retailprice AS DOUBLE) p_retailprice"
    ),
    "orders": (
        "CAST(o_orderkey AS BIGINT) o_orderkey,"
        " CAST(o_custkey AS BIGINT) o_custkey, o_orderstatus,"
        " CAST(o_totalprice AS DOUBLE) o_totalprice,"
        " CAST(o_orderdate AS TIMESTAMP) o_orderdate, o_orderpriority"
    ),
    "lineitem": (
        "CAST(l_orderkey AS BIGINT) l_orderkey,"
        " CAST(l_partkey AS BIGINT) l_partkey,"
        " CAST(l_suppkey AS BIGINT) l_suppkey,"
        " CAST(l_linenumber AS INTEGER) l_linenumber,"
        " CAST(l_quantity AS DOUBLE) l_quantity,"
        " CAST(l_extendedprice AS DOUBLE) l_extendedprice,"
        " CAST(l_discount AS DOUBLE) l_discount,"
        " CAST(l_tax AS DOUBLE) l_tax, l_returnflag, l_linestatus,"
        " CAST(l_shipdate AS TIMESTAMP) l_shipdate"
    ),
}
ORDER_BY = {"lineitem": "l_orderkey, l_linenumber", "orders": "o_orderkey"}
STAR_TABLES = tuple(PROJECTIONS)


def generate(out_dir: str, sf: float) -> str:
    """Write the star tables at scale ``sf`` into ``out_dir`` (idempotent:
    a directory holding the ``_DONE`` marker is reused as is)."""
    done = os.path.join(out_dir, "_DONE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    try:
        con.execute("SET enable_progress_bar = false")
        con.execute(f"CALL dbgen(sf = {sf})")
        for name, cols in PROJECTIONS.items():
            order = ORDER_BY.get(name, cols.split(" ")[0].split("(")[-1])
            tbl = con.execute(
                f"SELECT {cols} FROM {name} ORDER BY {order}"
            ).arrow()
            tbl = tbl.cast(
                pa.schema(
                    [
                        pa.field(f.name, pa.timestamp("us"))
                        if pa.types.is_timestamp(f.type)
                        else f
                        for f in tbl.schema
                    ]
                )
            )
            tmp = os.path.join(out_dir, f".{name}.parquet.tmp")
            pq.write_table(tbl, tmp, row_group_size=1 << 22)
            os.replace(tmp, os.path.join(out_dir, f"{name}.parquet"))
    finally:
        con.close()
    with open(done, "w") as fh:
        fh.write(f"sf={sf}\n")
    return out_dir
