"""Generator and oracle checks for the benchmark (no Spark needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import re
import sys
from datetime import date, datetime, timedelta

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import datagen  # noqa: E402
import sqlgen  # noqa: E402
import workloads  # noqa: E402
from oracle import Oracle, ingest_slice, same_rows  # noqa: E402

BOUNDS = (datetime(1992, 1, 2), datetime(1998, 12, 1))
DOM = sqlgen.Domain.of(BOUNDS, workloads.SF)
N = 3 * len(sqlgen.TEMPLATES)


@pytest.fixture(scope="module")
def oracle(tmp_path_factory):
    d = datagen.generate(str(tmp_path_factory.mktemp("sf")), 0.002)
    o = Oracle(d, threads=2, slices=workloads.INGEST_SLICES)
    lo, hi = o.rows("SELECT min(l_shipdate), max(l_shipdate) FROM lineitem")[0]
    yield o, sqlgen.Domain.of((lo, hi), 0.002)
    o.close()


def test_same_seed_same_inputs():
    a = sqlgen.StatementStream(7, DOM).take(N)
    b = sqlgen.StatementStream(7, DOM).take(N)
    assert a == b
    assert workloads.ingest_order(7) == workloads.ingest_order(7)
    assert workloads.dashboard_panel(7, DOM) == workloads.dashboard_panel(7, DOM)


def test_other_seed_other_inputs():
    a = [s.sql for s in sqlgen.StatementStream(7, DOM).take(N)]
    b = [s.sql for s in sqlgen.StatementStream(8, DOM).take(N)]
    assert a != b
    assert workloads.ingest_order(7) != workloads.ingest_order(8)


def test_stream_text_is_distinct():
    sqls = [s.sql for s in sqlgen.StatementStream(3, DOM).take(20 * len(sqlgen.TEMPLATES))]
    assert len(set(sqls)) == len(sqls)


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_each_route_once_per_round(seed):
    """A run measures whole rounds, so every intended route appears."""
    stream = sqlgen.StatementStream(seed, DOM)
    for _ in range(3):
        got = {s.route for s in stream.take(len(sqlgen.TEMPLATES))}
        assert got == set(sqlgen.ROUTES)
    ingest = sqlgen.StatementStream(seed, DOM, sqlgen.INDEX_ONLY)
    got = {s.template for s in ingest.take(len(sqlgen.INDEX_ONLY))}
    assert got == set(sqlgen.INDEX_ONLY)


def test_dashboard_panel_has_every_template():
    for seed in range(5):
        panel = workloads.dashboard_panel(seed, DOM)
        assert 12 <= len(panel) <= 16
        assert {s.template for s in panel} == set(sqlgen.TEMPLATES)


def test_windows_inside_time_bounds():
    lo, hi = BOUNDS[0].date(), BOUNDS[1].date()
    for st in sqlgen.StatementStream(5, DOM).take(40 * len(sqlgen.TEMPLATES)):
        ge = [date.fromisoformat(d) for d in
              re.findall(r"l_shipdate >= DATE '([0-9-]+)'", st.sql)]
        lt = [date.fromisoformat(d) for d in
              re.findall(r"l_shipdate < DATE '([0-9-]+)'", st.sql)]
        assert len(ge) == len(lt)
        for a in ge:
            assert lo <= a <= hi, st.sql
        for b in lt:
            assert lo < b <= hi + timedelta(days=1), st.sql
        for a, b in zip(ge, lt):
            assert a < b, st.sql


def test_ingest_order_covers_every_slice():
    order = workloads.ingest_order(4)
    assert sorted(order + [workloads.BOOTSTRAP_SLICE]) == list(
        range(workloads.INGEST_SLICES)
    )


def test_every_template_runs_in_duckdb(oracle):
    o, dom = oracle
    stream = sqlgen.StatementStream(11, dom)
    for st in stream.take(2 * len(sqlgen.TEMPLATES)):
        o.rows(st.sql)


def test_windows_keep_rows(oracle):
    """Windows inside the bounds select data; a window before the data
    start would make no-op statements."""
    o, dom = oracle
    empty = 0
    sts = sqlgen.StatementStream(12, dom, ("cube_flags",)).take(40)
    for st in sts:
        empty += not o.rows(st.sql)
    assert empty <= len(sts) // 10


def test_ingest_slices_partition_lineitem(oracle):
    o, _ = oracle
    total = o.rows("SELECT count(*) FROM lineitem_all")[0][0]
    per = o.rows(
        f"SELECT {ingest_slice('l_orderkey', workloads.INGEST_SLICES)} AS s,"
        " count(*) FROM lineitem_all GROUP BY s"
    )
    assert len(per) == workloads.INGEST_SLICES
    assert sum(n for _, n in per) == total
    assert min(n for _, n in per) > total / workloads.INGEST_SLICES / 2


def test_restrict_lineitem(oracle):
    o, _ = oracle
    o.restrict_lineitem([0, 3])
    try:
        got = o.rows(
            f"SELECT DISTINCT {ingest_slice('l_orderkey', workloads.INGEST_SLICES)}"
            " FROM lineitem"
        )
        assert sorted(r[0] for r in got) == [0, 3]
    finally:
        o.restrict_lineitem(list(range(workloads.INGEST_SLICES)))


def test_same_rows():
    assert same_rows([("a", 1.0), ("b", 2.0)], [("b", 2.0 + 1e-12), ("a", 1.0)])
    assert not same_rows([("a", 1.0)], [("a", 1.1)])
    assert not same_rows([("a", 1.0)], [("a", 1.0), ("a", 1.0)])
    assert same_rows([(None, 3)], [(None, 3)])
    assert not same_rows([(None, 3)], [(0, 3)])
