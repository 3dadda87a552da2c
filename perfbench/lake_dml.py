"""lake_dml: writes beside reads on one snapshot table, as SQL text.

Set-up creates ``lake_orders`` with ``CREATE TABLE ... USING snapshot AS``
from a seeded half of ``orders`` and one materialized dashboard aggregate
over it. Each pass is one cycle: ``INSERT INTO`` a seeded batch, ``MERGE
INTO`` an upsert whose keys half exist, ``DELETE`` and ``UPDATE``, each
followed by a head SELECT over a seeded date range, then ``REFRESH
MATERIALIZED VIEW``; every second cycle, the warm-up cycle included, also
runs ``OPTIMIZE``. The cycle's shape, batch sizes and window lengths are
fixed and only keys, rows and window positions are drawn, so that
throughput does not depend on the seed.
Reads and writes go through the same manifests, so a change that makes
commits cheaper by making head reads dearer (or the reverse) shows here.
Every statement is replayed afterwards into a DuckDB mirror (MERGE as
delete plus insert) to check each SELECT, the final head and the
materialized view.
"""

from __future__ import annotations

import glob
import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import checks
import datagen
from harness import Op
from spans import median

SF = 0.02
TABLE = "lake_orders"
MV = "orders_by_status"
MV_SQL = (
    f"CREATE MATERIALIZED VIEW {MV} AS SELECT o_orderstatus, o_orderpriority, "
    f"COUNT(*) AS n, SUM(o_totalprice) AS total FROM {TABLE} "
    "GROUP BY o_orderstatus, o_orderpriority"
)
MV_RECOMPUTE = (
    "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
    f"sum(o_totalprice) AS total FROM {TABLE} GROUP BY 1, 2"
)
OPTIMIZE_EVERY = 2
BUILD_PHASES = ("sources.dml_sql.create", "operators.matview.create")
PASS_SECONDS = 6.5  # one cycle, warm, 4-core host
BATCH_DIV = 30  # INSERT batch: this fraction of the seeded rows
UPSERT_DIV = 75  # MERGE: twice this fraction, half of it existing keys
DELETE_DAYS = 2
UPDATE_DAYS = 5
SELECT_WINDOW_DAYS = (30, 90, 365, datagen.ORDERS_DAYS)  # one per head read


class State:
    def __init__(self, ctx, fixtures: str, n_seed: int):
        self.ctx = ctx
        self.fixtures = fixtures
        self.staged = os.path.join(ctx.dir, "staged")
        os.makedirs(self.staged)
        self.rng = random.Random(ctx.seed)
        self.n_seed = n_seed
        self.n_cust = datagen.n_rows("customer", SF)
        self.next_key = n_seed
        self.table_path = ctx.eng.snapshot_table_path(TABLE)
        self.warmup: list[Op] = []
        self.table_bytes: int | None = None  # after the first timed cycle
        self.live_bytes: int | None = None
        self.dml_files: list[tuple[int, int]] = []


def _where(rng, days: int) -> str:
    lo, hi = datagen.order_window(rng, days)
    return (f"o_orderdate >= {datagen.ts_literal(lo)} "
            f"AND o_orderdate < {datagen.ts_literal(hi)}")


def _stage(state: State, name: str, table: pa.Table) -> str:
    path = os.path.join(state.staged, f"{name}.parquet")
    pq.write_table(table, path)
    return path


def cycle(state: State, c: int) -> list[Op]:
    """The statements of cycle ``c``; writes the batches they read."""
    rng = state.rng
    batch = state.n_seed // BATCH_DIV
    ins = _stage(state, f"insert{c}", datagen.orders_rows(
        state.ctx.seed, state.next_key, batch, state.n_cust, salt=2 * c + 1))
    state.next_key += batch

    n_up = 2 * (state.n_seed // UPSERT_DIV)
    old = rng.sample(range(state.next_key), n_up // 2)
    keys = np.array(old + list(range(state.next_key, state.next_key + n_up // 2)),
                    dtype=np.int64)
    state.next_key += n_up // 2
    up = datagen.orders_rows(state.ctx.seed, 0, n_up, state.n_cust, salt=2 * c + 2)
    up = up.set_column(0, "o_orderkey", pa.array(keys))
    ups = _stage(state, f"merge{c}", up)

    delete = f"DELETE FROM {TABLE} WHERE {_where(rng, DELETE_DAYS)}"
    update = (
        f"UPDATE {TABLE} SET o_totalprice = o_totalprice + {rng.randint(1, 100)}, "
        f"o_orderstatus = 'F' WHERE {_where(rng, UPDATE_DAYS)}"
    )
    writes = [
        Op("insert", "write", f"INSERT INTO {TABLE} SELECT * FROM parquet.`{ins}`",
           {"mirror": ("insert", ins)}),
        Op("merge", "write",
           f"MERGE INTO {TABLE} AS t USING (SELECT * FROM parquet.`{ups}`) AS s "
           "ON t.o_orderkey = s.o_orderkey "
           "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
           {"mirror": ("merge", ups)}),
        Op("delete", "write", delete, {"mirror": ("sql", delete)}),
        Op("update", "write", update, {"mirror": ("sql", update)}),
    ]
    ops = []
    for write, days in zip(writes, SELECT_WINDOW_DAYS):
        # every head read follows a commit, as a dashboard polling a table
        # that ingestion keeps writing to
        where = _where(rng, days)
        select = (
            "SELECT o_orderpriority, count(*) AS n, sum(o_totalprice) AS total "
            f"FROM {TABLE} WHERE {where} GROUP BY o_orderpriority ORDER BY o_orderpriority"
        )
        ops += [write, Op("select", "read", select, {"mirror": ("select", select)})]
    ops.append(Op("refresh", "write", f"REFRESH MATERIALIZED VIEW {MV}",
                  {"mirror": ("none",)}))
    if c % OPTIMIZE_EVERY == 0:
        ops.append(Op("optimize", "write", f"OPTIMIZE {TABLE}", {"mirror": ("none",)}))
    return ops


def setup(ctx) -> State:
    from oss_data_lake_spark.sources.loaders import load_table

    n_seed = datagen.n_rows("orders", SF) // 2
    with ctx.phase("setup.datagen"):
        fixtures = datagen.write_tables(
            {"orders": datagen.orders_rows(ctx.seed, 0, n_seed,
                                           datagen.n_rows("customer", SF))},
            os.path.join(ctx.dir, "fixtures"),
        )
    with ctx.phase("sources.loaders.register"):
        load_table(ctx.spark, fixtures, "orders").createOrReplaceTempView("orders_seed")
    with ctx.phase("sources.dml_sql.create"):
        ctx.eng.sql(
            f"CREATE TABLE {TABLE} USING snapshot AS SELECT * FROM orders_seed"
        ).collect()
    with ctx.phase("operators.matview.create"):
        ctx.eng.sql(MV_SQL).collect()
    return State(ctx, fixtures, n_seed)


def warmup(state: State) -> None:
    """Cycle 0, which the mirror replays before the timed statements."""
    state.warmup = cycle(state, 0)
    for op in state.warmup:
        state.ctx.eng.sql(op.sql).collect()


def deck(state: State, pass_no: int) -> list[Op]:
    if pass_no == 1:
        state.table_bytes = checks.dir_bytes(state.table_path)
    return cycle(state, pass_no + 1)


def observe(state: State, res) -> None:
    row = res.rows[0].asDict() if res.rows else {}
    if "files_rewritten" in row:
        state.dml_files.append((row["files_rewritten"], row["files_skipped"]))


def probe(state: State, op: Op, df) -> dict:
    if op.name != "select":
        return {}
    from oss_data_lake_spark.sources.snapshots import SnapshotTable

    live = SnapshotTable(state.ctx.spark, state.table_path).read().inputFiles()
    return {"files_kept": len(df.inputFiles()), "files_live": len(live)}


def _apply(con, op: Op) -> None:
    kind, *arg = op.meta["mirror"]
    if kind == "insert":
        con.execute(f"INSERT INTO {TABLE} SELECT * FROM read_parquet('{arg[0]}')")
    elif kind == "merge":
        con.execute(f"DELETE FROM {TABLE} WHERE o_orderkey IN "
                    f"(SELECT o_orderkey FROM read_parquet('{arg[0]}'))")
        con.execute(f"INSERT INTO {TABLE} SELECT * FROM read_parquet('{arg[0]}')")
    elif kind == "sql":
        con.execute(arg[0])


def check(state: State, results) -> list[str]:
    """Replay the warm-up and every executed statement into DuckDB; compare
    each SELECT on the way, then the head, and the view with a recompute as
    of its last REFRESH."""
    con = checks.duck_connect({})
    problems = []
    eng = state.ctx.eng
    try:
        con.execute(f"CREATE TABLE {TABLE} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(state.fixtures, 'orders.parquet')}')")
        for op in state.warmup:
            _apply(con, op)
        view_want = con.execute(MV_RECOMPUTE).fetchall()
        for i, r in enumerate(results):
            _apply(con, r.op)
            if r.op.name == "select" and r.error is None:
                diff = checks.compare(r.rows, con.execute(r.op.sql).fetchall(), ordered=True)
                if diff:
                    problems.append(f"select after op {i}: {diff} [{r.op.sql}]")
            if r.op.name == "refresh" and r.error is None:
                view_want = con.execute(MV_RECOMPUTE).fetchall()
            if r.pass_no == 0 and (i + 1 == len(results) or results[i + 1].pass_no > 0):
                state.live_bytes = _parquet_bytes(con, state)
        if state.table_bytes is None:  # only one timed cycle ran
            state.table_bytes = checks.dir_bytes(state.table_path)
        head = eng.sql(f"SELECT * FROM {TABLE}").collect()
        diff = checks.compare(head, con.execute(f"SELECT * FROM {TABLE}").fetchall())
        if diff:
            problems.append(f"head differs from the mirror: {diff}")
        view = eng.sql(f"SELECT * FROM {MV}").collect()
        diff = checks.compare(view, view_want)
        if diff:
            problems.append(f"materialized view differs from a recompute: {diff}")
    finally:
        con.close()
    return problems


def _parquet_bytes(con, state: State) -> int:
    """Size of the mirror's live rows as one snappy parquet file."""
    path = os.path.join(state.ctx.dir, "live_rows.parquet")
    con.execute(f"COPY (SELECT * FROM {TABLE} ORDER BY o_orderkey) TO '{path}' "
                "(FORMAT parquet, COMPRESSION snappy)")
    return os.path.getsize(path)


def storage_ratio(state: State) -> float:
    """Table bytes on disk (data, deleted-but-kept files and metadata) per
    byte of the live rows as parquet, after the first timed cycle."""
    return state.table_bytes / state.live_bytes


def layer_metrics(state: State, results) -> dict:
    done = [r for r in results if r.error is None]
    busy = sum(r.latency_s for r in done) or 1.0

    def share(name):
        return sum(r.latency_s for r in done if r.op.name == name) / busy

    kept = [r.probes["files_kept"] / r.probes["files_live"]
            for r in done if r.probes.get("files_live")]
    meta = os.path.join(state.table_path, "_snapshots")
    manifests = glob.glob(os.path.join(meta, "v*.json"))
    head = max(manifests, key=lambda p: int(os.path.basename(p)[1:-5]))
    with open(head) as fh:
        manifest = json.load(fh)
    data_files = glob.glob(os.path.join(state.table_path, "data", "**", "*.parquet"),
                           recursive=True)
    n_dml = max(1, len(state.dml_files))
    return {
        "sources.skipping.files_kept_ratio": median(kept),
        "sources.snapshots.versions": float(len(manifests)),
        "sources.snapshots.data_files": float(len(data_files)),
        "sources.snapshots.delete_files": float(
            len(manifest.get("delete_dirs", [])) + len(manifest.get("eq_deletes", []))),
        "sources.snapshots.metadata_bytes": float(checks.dir_bytes(meta)),
        "sources.dml_sql.files_rewritten": sum(a for a, _ in state.dml_files) / n_dml,
        "sources.dml_sql.files_skipped": sum(b for _, b in state.dml_files) / n_dml,
        "operators.matview.refresh_share": share("refresh"),
        "sources.snapshots.optimize_share": share("optimize"),
    }
