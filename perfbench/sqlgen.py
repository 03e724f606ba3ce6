"""Seeded SQL statements over the TPC-H star, one template per route.

Every template renders SQL text that both ``OlapContext.sql`` and DuckDB
accept unchanged (the oracle registers the engine's renamed dimension views
``custnation``/``custregion``/``suppnation``/``suppregion``). Literals are
drawn from a ``random.Random`` the caller seeds, so one seed always yields the
same statement stream. Date windows are drawn inside the index's
``time_bounds()`` with a seeded width, aligned to the grain the route needs
(day for the day cube, month or year for the coarser cubes).

Measures use decimal casts summed and cast to DOUBLE at the end, so both
engines compute identical values independent of accumulation order.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from datetime import date, datetime, timedelta

QTY = "CAST(l_quantity AS DECIMAL(12,2))"
PRICE = "CAST(l_extendedprice AS DECIMAL(12,2))"

SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
NATIONS = (
    "ALGERIA", "ARGENTINA", "BRAZIL", "CANADA", "EGYPT", "ETHIOPIA",
    "FRANCE", "GERMANY", "INDIA", "INDONESIA", "IRAN", "IRAQ", "JAPAN",
    "JORDAN", "KENYA", "MOROCCO", "MOZAMBIQUE", "PERU", "CHINA", "ROMANIA",
    "SAUDI ARABIA", "VIETNAM", "RUSSIA", "UNITED KINGDOM", "UNITED STATES",
)


def _d(x: date) -> str:
    return f"DATE '{x.isoformat()}'"


def _quote_list(vals) -> str:
    return ", ".join(f"'{v}'" for v in vals)


@dataclass(frozen=True)
class Domain:
    """What literals may range over: the index time bounds (inclusive) and
    the part-key count of the generated scale factor."""

    lo: date
    hi: date
    n_parts: int

    @staticmethod
    def of(bounds: tuple[datetime, datetime], sf: float) -> "Domain":
        lo, hi = bounds
        return Domain(lo.date(), hi.date(), max(1, int(200_000 * sf)))

    # windows are half-open [start, end) with lo <= start and end <= hi + 1;
    # widths are log-uniform over a 24x range, wide enough to move the
    # pruning keep ratio and narrow enough that one seed's draws do not
    # dominate a run's latency quantiles
    def day_window(self, rng: random.Random) -> tuple[date, date]:
        span = (self.hi - self.lo).days + 1
        width = min(span, int(round(30 * 24 ** rng.random())))
        start = self.lo + timedelta(days=rng.randrange(span - width + 1))
        return start, start + timedelta(days=width)

    def _months(self) -> list[date]:
        first = date(self.lo.year, self.lo.month, 1)
        if first < self.lo:
            first = _add_months(first, 1)
        out = []
        m = first
        while m <= self.hi + timedelta(days=1):
            out.append(m)
            m = _add_months(m, 1)
        return out

    def month_window(self, rng: random.Random) -> tuple[date, date]:
        ms = self._months()
        width = rng.randint(1, min(24, len(ms) - 1))
        i = rng.randrange(len(ms) - width)
        return ms[i], ms[i + width]

    def year_window(self, rng: random.Random) -> tuple[date, date]:
        ys = [m for m in self._months() if m.month == 1]
        width = rng.randint(1, len(ys) - 1)
        i = rng.randrange(len(ys) - width)
        return ys[i], ys[i + width]


def _add_months(d: date, n: int) -> date:
    k = d.month - 1 + n
    return date(d.year + k // 12, k % 12 + 1, 1)


# ----------------------------------------------------------------- templates
def cube_flags(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    return f"""SELECT l_returnflag, l_linestatus,
       CAST(SUM({QTY}) AS DOUBLE) AS sum_qty,
       CAST(SUM({PRICE}) AS DOUBLE) AS sum_base_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus"""


def cube_market(rng: random.Random, dom: Domain) -> str:
    a, b = dom.month_window(rng)
    segs = sorted(rng.sample(SEGMENTS, rng.randint(1, 4)))
    return f"""SELECT c_mktsegment, o_orderpriority, COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment IN ({_quote_list(segs)})
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY c_mktsegment, o_orderpriority
ORDER BY c_mktsegment, o_orderpriority"""


def cube_nations(rng: random.Random, dom: Domain) -> str:
    a, b = dom.year_window(rng)
    region = rng.choice(REGIONS)
    return f"""SELECT c_nation, s_region, COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN custnation ON c_nationkey = cn_nationkey
JOIN custregion ON cn_regionkey = cr_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN suppnation ON s_nationkey = sn_nationkey
JOIN suppregion ON sn_regionkey = sr_regionkey
WHERE c_region = '{region}'
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY c_nation, s_region
ORDER BY c_nation, s_region"""


def projection_parts(rng: random.Random, dom: Domain) -> str:
    width = rng.randint(20, 400)
    lo = rng.randint(1, max(1, dom.n_parts - width))
    q = rng.randint(1, 45)
    return f"""SELECT l_partkey, COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_partkey BETWEEN {lo} AND {lo + width} AND l_quantity >= {q}
GROUP BY l_partkey
ORDER BY l_partkey"""


def flat_star(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    s0 = rng.randint(1, 40)
    s1 = s0 + rng.randint(0, 10)
    return f"""SELECT c_mktsegment, l_returnflag, COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN part ON l_partkey = p_partkey
WHERE p_size BETWEEN {s0} AND {s1}
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY c_mktsegment, l_returnflag
ORDER BY c_mktsegment, l_returnflag"""


def topn_brand(rng: random.Random, dom: Domain) -> str:
    a, b = dom.month_window(rng)
    nation = rng.choice(NATIONS)
    k = rng.randint(3, 20)
    return f"""SELECT p_brand, CAST(SUM({PRICE}) AS DOUBLE) AS revenue
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN suppnation ON s_nationkey = sn_nationkey
WHERE s_nation = '{nation}'
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY p_brand
ORDER BY revenue DESC, p_brand
LIMIT {k}"""


def in_semijoin(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    prio = rng.choice(PRIORITIES)
    return f"""SELECT l_returnflag AS flag, COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue
FROM lineitem
WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                     WHERE o_orderpriority = '{prio}')
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY l_returnflag
ORDER BY flag"""


def exists_semijoin(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    price = rng.randrange(20_000, 400_000, 500)
    return f"""SELECT l_linestatus AS status, COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty
FROM lineitem
WHERE EXISTS (SELECT 1 FROM orders
              WHERE o_orderkey = l_orderkey AND o_totalprice > {price})
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY l_linestatus
ORDER BY status"""


def not_in(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    prio = rng.choice(PRIORITIES)
    return f"""SELECT l_linestatus AS status, COUNT(*) AS n,
       CAST(SUM({QTY}) AS DOUBLE) AS qty
FROM lineitem
WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '{prio}')
  AND l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY l_linestatus
ORDER BY status"""


def corr_scalar(rng: random.Random, dom: Domain) -> str:
    frac = rng.choice((0.1, 0.2, 0.3, 0.4, 0.5))
    width = rng.randint(200, max(201, dom.n_parts // 4))
    lo = rng.randint(1, max(1, dom.n_parts - width))
    return f"""SELECT CAST(SUM({PRICE}) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
WHERE l_partkey BETWEEN {lo} AND {lo + width}
  AND l_quantity < (SELECT {frac} * AVG(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = lineitem.l_partkey)"""


def share_of_total(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    dim = rng.choice(("l_returnflag", "l_linestatus"))
    return f"""SELECT {dim} AS g, COUNT(*) AS n,
       CAST(SUM({PRICE}) AS DOUBLE)
       / (SELECT CAST(SUM({PRICE}) AS DOUBLE) FROM lineitem) AS share
FROM lineitem
WHERE l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY {dim}
ORDER BY g"""


def union_all(rng: random.Random, dom: Domain) -> str:
    a, b = dom.day_window(rng)
    mid = a + (b - a) // 2
    return f"""SELECT 'early' AS period, l_returnflag AS flag,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue, COUNT(*) AS n
FROM lineitem WHERE l_shipdate >= {_d(a)} AND l_shipdate < {_d(mid)}
GROUP BY l_returnflag
UNION ALL
SELECT 'late' AS period, l_returnflag AS flag,
       CAST(SUM({PRICE}) AS DOUBLE) AS revenue, COUNT(*) AS n
FROM lineitem WHERE l_shipdate >= {_d(mid)} AND l_shipdate < {_d(b)}
GROUP BY l_returnflag
ORDER BY period, flag"""


def fallback(rng: random.Random, dom: Domain) -> str:
    """A shape the SQL front end declines (a sample standard deviation):
    the engine answers it through ``spark.sql`` over the base tables."""
    a, b = dom.day_window(rng)
    dim = rng.choice(("l_returnflag", "l_linestatus"))
    return f"""SELECT {dim} AS g, COUNT(*) AS n,
       STDDEV_SAMP(l_quantity) AS sd_qty
FROM lineitem
WHERE l_shipdate >= {_d(a)} AND l_shipdate < {_d(b)}
GROUP BY {dim}
ORDER BY g"""


# template name -> (intended route, renderer)
TEMPLATES = {
    "cube_flags": ("cube", cube_flags),
    "cube_market": ("cube", cube_market),
    "cube_nations": ("cube", cube_nations),
    "projection_parts": ("projection", projection_parts),
    "flat_star": ("flat", flat_star),
    "topn_brand": ("topn", topn_brand),
    "in_semijoin": ("semijoin", in_semijoin),
    "exists_semijoin": ("semijoin", exists_semijoin),
    "not_in": ("not_in", not_in),
    "corr_scalar": ("corr_scalar", corr_scalar),
    "share_of_total": ("share_of_total", share_of_total),
    "union_all": ("union_all", union_all),
    "fallback": ("fallback", fallback),
}
ROUTES = sorted({r for r, _ in TEMPLATES.values()})
# templates that read only the index: no base-table subquery arm and no
# spark.sql fallback (a context built without base tables serves these)
INDEX_ONLY = tuple(
    t for t in TEMPLATES if t not in ("in_semijoin", "exists_semijoin",
                                      "not_in", "fallback")
)


@dataclass(frozen=True)
class Statement:
    template: str
    route: str
    sql: str


class StatementStream:
    """Distinct statements in a seeded round-robin over ``templates``.

    The template order is shuffled once per round so every route appears
    once per ``len(templates)`` statements; a rendered text seen before is
    redrawn, so no two statements of one stream share text."""

    def __init__(self, seed: int | str, dom: Domain, templates=tuple(TEMPLATES)):
        self.rng = random.Random(seed)
        self.dom = dom
        self.templates = tuple(templates)
        self.seen: set[str] = set()
        self._round: list[str] = []

    def __iter__(self):
        return self

    def __next__(self) -> Statement:
        if not self._round:
            self._round = list(self.templates)
            self.rng.shuffle(self._round)
        name = self._round.pop()
        route, render = TEMPLATES[name]
        for _ in range(1000):
            sql = render(self.rng, self.dom)
            if sql not in self.seen:
                self.seen.add(sql)
                return Statement(name, route, sql)
        raise RuntimeError(f"template {name} ran out of distinct literals")

    def take(self, n: int) -> list[Statement]:
        return [next(self) for _ in range(n)]
