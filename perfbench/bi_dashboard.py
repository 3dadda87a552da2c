"""bi_dashboard: a closed loop of dashboard SELECTs sent as Trino-dialect SQL
text through ``Engine.sql(...).collect()``.

Nine templates over the fixture views and the date-partitioned lake copies
(``sources/lake.py``). Each pass runs every template once, in an order and
with parameters drawn from the seed. Date windows run from one day to the
full range, so partition pruning matters only on the narrow draws. The
workload loads the SQL translator chain, Catalyst planning and scans; it
never touches snapshot tables or the corpus operators.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import checks
import datagen
from harness import Op
from spans import median

SF = 0.02
BUILD_PHASES = ("sources.lake.build",)
PASS_SECONDS = 4.3  # one pass of the 9 templates, warm, 4-core host
TEMPLATES = (
    "flagship_daily_avg",
    "tpch_q1",
    "star_revenue_by_nation",
    "topk_orders",
    "ma7_daily",
    "trino_functions",
    "pruned_event_days",
    "pruned_ship_months",
    "prepared_segment_revenue",
)
EVENT_WINDOW_DAYS = (1, 2, 3, 7, 14, 30)
ORDER_WINDOW_DAYS = (30, 90, 365, datagen.ORDERS_DAYS)
SHIP_WINDOW_MONTHS = (1, 3, 12, 84)
PREPARE = (
    "PREPARE segment_revenue FROM "
    "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS revenue "
    "FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE o_orderdate >= CAST(? AS TIMESTAMP) AND o_orderdate < CAST(? AS TIMESTAMP) "
    "AND o_orderpriority = ? GROUP BY c_mktsegment ORDER BY c_mktsegment"
)


class State:
    def __init__(self, ctx, fixtures: str, storage_ratio: float):
        self.ctx = ctx
        self.fixtures = fixtures
        self.storage_ratio = storage_ratio
        self.rng = random.Random(ctx.seed)


def _event_window(rng, slot: int) -> tuple[dt.date, dt.date]:
    days = EVENT_WINDOW_DAYS[slot % len(EVENT_WINDOW_DAYS)]
    start = rng.randint(0, datagen.EVENTS_DAYS - days)
    lo = datagen.EVENTS_START.date() + dt.timedelta(days=start)
    return lo, lo + dt.timedelta(days=days)


def _order_window(rng, slot: int) -> tuple[dt.date, dt.date]:
    return datagen.order_window(rng, ORDER_WINDOW_DAYS[slot % len(ORDER_WINDOW_DAYS)])


def _events_where(lo, hi) -> str:
    return f"ts >= {datagen.ts_literal(lo)} AND ts < {datagen.ts_literal(hi)}"


def _orders_where(lo, hi) -> str:
    return (f"o_orderdate >= {datagen.ts_literal(lo)} "
            f"AND o_orderdate < {datagen.ts_literal(hi)}")


def make_op(name: str, rng: random.Random, slot: int) -> Op:
    """One instance of template ``name``: its Trino SQL and, in ``meta``, the
    DuckDB SQL that must give the same rows. ``slot`` picks the window length
    and ``rng`` everything else, so every pass carries the same spread of
    window lengths whatever the seed."""
    ordered, approx = False, ()
    if name == "flagship_daily_avg":
        where = _events_where(*_event_window(rng, slot))
        sql = duck = (
            "SELECT event_type, CAST(ts AS DATE) AS d, avg(value) AS avg_value, "
            f"count(*) AS n FROM events WHERE {where} "
            "GROUP BY event_type, CAST(ts AS DATE) ORDER BY event_type, d"
        )
    elif name == "tpch_q1":
        cutoff = dt.date(1998, 12, 1) - dt.timedelta(days=rng.randint(60, 120))
        sql = duck = (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "sum(l_extendedprice) AS sum_base_price, "
            "sum(l_extendedprice * (1 - l_discount)) AS sum_disc_price, "
            "sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)) AS sum_charge, "
            "avg(l_quantity) AS avg_qty, avg(l_extendedprice) AS avg_price, "
            "avg(l_discount) AS avg_disc, count(*) AS count_order "
            f"FROM lineitem WHERE l_shipdate <= {datagen.ts_literal(cutoff)} "
            "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"
        )
    elif name == "star_revenue_by_nation":
        lo, hi = _order_window(rng, slot)
        sql = duck = (
            "SELECT n_name, sum(l_extendedprice * (1 - l_discount)) AS revenue "
            "FROM lineitem JOIN orders ON l_orderkey = o_orderkey "
            "JOIN supplier ON l_suppkey = s_suppkey "
            "JOIN customer ON o_custkey = c_custkey AND c_nationkey = s_nationkey "
            "JOIN nation ON s_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            f"WHERE r_name = '{rng.choice(datagen.REGIONS)}' "
            f"AND {_orders_where(lo, hi)} "
            "GROUP BY n_name ORDER BY revenue DESC, n_name"
        )
    elif name == "topk_orders":
        lo, hi = _order_window(rng, slot)
        sql = duck = (
            "SELECT o_orderkey, o_custkey, o_totalprice FROM orders "
            f"WHERE {_orders_where(lo, hi)} "
            f"ORDER BY o_totalprice DESC, o_orderkey LIMIT {rng.randint(5, 50)}"
        )
        ordered = True
    elif name == "ma7_daily":
        where = _events_where(*_event_window(rng, slot))
        sql = duck = (
            "WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS d, "
            f"avg(value) AS daily_avg FROM events WHERE {where} "
            "GROUP BY event_type, CAST(ts AS DATE)) "
            "SELECT event_type, d, daily_avg, avg(daily_avg) OVER ("
            "PARTITION BY event_type ORDER BY d "
            "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS ma7 "
            "FROM daily ORDER BY event_type, d"
        )
    elif name == "trino_functions":
        where = _events_where(*_event_window(rng, slot))
        x = rng.randint(20, 180)
        sql = (
            "SELECT event_type, approx_distinct(user_id, 0.01) AS users, "
            f"count_if(value > {x}) AS n_big, "
            "date_diff('hour', min(ts), max(ts)) AS span_h, "
            "format_datetime(max(ts), 'yyyy-MM-dd HH') AS last_hour "
            f"FROM events WHERE {where} GROUP BY event_type ORDER BY event_type"
        )
        duck = (
            "SELECT event_type, count(DISTINCT user_id) AS users, "
            f"count_if(value > {x}) AS n_big, "
            "CAST(floor((epoch_us(max(ts)) - epoch_us(min(ts))) / 3600000000) "
            "AS BIGINT) AS span_h, strftime(max(ts), '%Y-%m-%d %H') AS last_hour "
            f"FROM events WHERE {where} GROUP BY event_type ORDER BY event_type"
        )
        approx = (1,)
    elif name == "pruned_event_days":
        lo, hi = _event_window(rng, slot)
        last = hi - dt.timedelta(days=1)
        sql = (
            "SELECT date, event_type, count(*) AS n, sum(value) AS sum_value "
            f"FROM events_lake WHERE date BETWEEN '{lo}' AND '{last}' "
            "GROUP BY date, event_type ORDER BY date, event_type"
        )
        duck = (
            "SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS date, event_type, "
            "count(*) AS n, sum(value) AS sum_value FROM events "
            f"WHERE CAST(ts AS DATE) BETWEEN DATE '{lo}' AND DATE '{last}' "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        )
    elif name == "pruned_ship_months":
        months = SHIP_WINDOW_MONTHS[slot % len(SHIP_WINDOW_MONTHS)]
        start = rng.randint(0, 84 - months)
        m0 = f"{1995 + start // 12}-{start % 12 + 1:02d}"
        end = start + months - 1
        m1 = f"{1995 + end // 12}-{end % 12 + 1:02d}"
        sql = (
            "SELECT ship_month, l_returnflag, count(*) AS n, "
            "sum(l_quantity) AS sum_qty FROM lineitem_lake "
            f"WHERE ship_month BETWEEN '{m0}' AND '{m1}' "
            "GROUP BY ship_month, l_returnflag ORDER BY ship_month, l_returnflag"
        )
        duck = (
            "SELECT strftime(l_shipdate, '%Y-%m') AS ship_month, l_returnflag, "
            "count(*) AS n, sum(l_quantity) AS sum_qty FROM lineitem "
            f"WHERE strftime(l_shipdate, '%Y-%m') BETWEEN '{m0}' AND '{m1}' "
            "GROUP BY 1, 2 ORDER BY 1, 2"
        )
    elif name == "prepared_segment_revenue":
        lo, hi = _order_window(rng, slot)
        prio = rng.choice(datagen.PRIORITIES)
        sql = f"EXECUTE segment_revenue USING '{lo}', '{hi}', '{prio}'"
        duck = (
            "SELECT c_mktsegment, count(*) AS n, sum(o_totalprice) AS revenue "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            f"WHERE {_orders_where(lo, hi)} "
            f"AND o_orderpriority = '{prio}' GROUP BY c_mktsegment ORDER BY c_mktsegment"
        )
    else:
        raise ValueError(f"unknown template {name!r}")
    return Op(name, "read", sql, {"duck": duck, "ordered": ordered, "approx": approx})


def setup(ctx) -> State:
    from oss_data_lake_spark.sources import lake

    with ctx.phase("setup.datagen"):
        tables = {
            **datagen.star_tables(ctx.seed, SF),
            "events": datagen.events_table(ctx.seed, SF),
            **datagen.corpus_tables(ctx.seed, SF),
        }
        fixtures = datagen.write_tables(tables, os.path.join(ctx.dir, "fixtures"))
    with ctx.phase("sources.loaders.register"):
        ctx.eng.register_fixtures(fixtures)
    with ctx.phase("sources.lake.build"):
        events_lake = lake.events_by_date(ctx.spark, fixtures)
        lineitem_lake = lake.lineitem_by_month(ctx.spark, fixtures)
        lake.read_lake(ctx.spark, events_lake).createOrReplaceTempView("events_lake")
        lake.read_lake(ctx.spark, lineitem_lake).createOrReplaceTempView("lineitem_lake")
    user_bytes = sum(
        os.path.getsize(os.path.join(fixtures, f"{t}.parquet"))
        for t in ("events", "lineitem")
    )
    ratio = (checks.dir_bytes(events_lake) + checks.dir_bytes(lineitem_lake)) / user_bytes
    ctx.eng.sql(PREPARE).collect()
    return State(ctx, fixtures, ratio)


def warmup(state: State) -> None:
    """Every template once, with parameters the timed loop does not draw."""
    warm = random.Random(f"warmup-{state.ctx.seed}")
    for slot, name in enumerate(TEMPLATES):
        state.ctx.eng.sql(make_op(name, warm, slot).sql).collect()


def deck(state: State, pass_no: int) -> list[Op]:
    order = list(TEMPLATES)
    state.rng.shuffle(order)
    return [make_op(name, state.rng, pass_no + TEMPLATES.index(name))
            for name in order]


def observe(state: State, res) -> None:
    pass


def scan_files(df) -> int:
    """Files the executed plan's scans opened (their ``numFiles`` metric),
    after partition pruning; ``df.inputFiles()`` would list every file of
    the relation."""
    stack = [df._jdf.queryExecution().executedPlan()]
    total = 0
    while stack:
        node = stack.pop()
        cls = node.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        if cls.endswith("QueryStageExec"):
            stack.append(node.plan())
            continue
        metric = node.metrics().get("numFiles")
        if metric.isDefined():
            total += metric.get().value()
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return total


def probe(state: State, op: Op, df) -> dict:
    if op.name.startswith("pruned_"):
        return {"lake_files": scan_files(df)}
    return {}


def check(state: State, results) -> list[str]:
    """The first instance of each template in the run against DuckDB over
    the same parquet files."""
    con = checks.duck_connect({
        t: os.path.join(state.fixtures, f"{t}.parquet")
        for t in ("region", "nation", "customer", "supplier", "orders",
                  "lineitem", "events")
    })
    problems, seen = [], set()
    try:
        for r in results:
            if r.error is not None or r.op.name in seen:
                continue
            seen.add(r.op.name)
            want = con.execute(r.op.meta["duck"]).fetchall()
            diff = checks.compare(r.rows, want, r.op.meta["ordered"], r.op.meta["approx"])
            if diff:
                problems.append(f"{r.op.name}: {diff} [{r.op.sql}]")
    finally:
        con.close()
    return problems


def storage_ratio(state: State) -> float:
    return state.storage_ratio


def layer_metrics(state: State, results) -> dict:
    files = [r.probes["lake_files"] for r in results if "lake_files" in r.probes]
    return {"sources.lake.files_read": float(median(files))}
