"""``lookup``: 4 closed-loop clients sending selective SQL through
``SwiftLakeEngine.sql(...).collect()`` against day-partitioned
``s.lineitem`` and month-partitioned ``s.orders``.

7 of every 10 queries aggregate a 1–7 day ship-date range of
``s.lineitem``; 3 join a week of ``s.lineitem`` with the ``s.orders``
months that can hold its orders.  A seeded fifth of the queries is re-run in DuckDB over
the raw parquet and must return the same rows.
"""

from __future__ import annotations

import datetime as dt
import os
import random

import datagen
from common import cpus
from workload import Workload, rows_match

AGG_SQL = (
    "SELECT l_returnflag, l_linestatus, COUNT(*) AS n, SUM(l_quantity) AS qty, "
    "SUM(l_extendedprice) AS price FROM s.lineitem "
    "WHERE l_shipdate >= TIMESTAMP '{lo}' AND l_shipdate < TIMESTAMP '{hi}' "
    "GROUP BY l_returnflag, l_linestatus"
)
JOIN_SQL = (
    "SELECT o.o_orderpriority, COUNT(*) AS n, SUM(l.l_extendedprice) AS price "
    "FROM s.lineitem l JOIN s.orders o ON l.l_orderkey = o.o_orderkey "
    "WHERE l.l_shipdate >= TIMESTAMP '{lo}' AND l.l_shipdate < TIMESTAMP '{hi}' "
    "AND o.o_orderdate >= TIMESTAMP '{olo}' AND o.o_orderdate < TIMESTAMP '{hi}' "
    "GROUP BY o.o_orderpriority"
)

KIND_CYCLE = ["agg", "agg", "join", "agg", "agg", "join", "agg", "agg", "join", "agg"]


def _d(t: dt.datetime) -> str:
    return t.strftime("%Y-%m-%d")


class Lookup(Workload):
    scale = 0.01
    order_days = 130  # ≈ 250 distinct ship days → one file per day
    check_share = 0.2

    def __init__(self, seed: int, run_dir: str, tiny: bool = False) -> None:
        super().__init__(seed, run_dir, tiny)
        self.clients = cpus()
        if tiny:
            self.scale, self.order_days = 0.001, 60
        self._rngs = [random.Random(seed * 7919 + c) for c in range(self.clients)]
        self._sent = [0] * self.clients

    def generate(self, rep: int) -> None:
        self.data_dir = os.path.join(self.run_dir, f"data{rep}")
        datagen.write_star(self.data_dir, self.seed, self.scale, self.order_days)

    def build(self, ctx, rep: int) -> None:
        db = "s" if rep == self.setup_reps - 1 else f"s{rep}"
        for table, spec in (("lineitem", "day(l_shipdate)"), ("orders", "month(o_orderdate)")):
            src = ctx.spark.read.parquet(os.path.join(self.data_dir, f"{table}.parquet"))
            ctx.engine.catalog.create_table(f"{db}.{table}", src.schema, partition_spec=[spec])
            ctx.engine.insert_into(f"{db}.{table}").dataframe(src).execute()

    def next_op(self, client: int):
        """Kinds and day spans follow a fixed cycle per client (7 of 10
        aggregates, spans 1–7 days) so every run sends the same mix;
        dates and the checked sample come from the seed."""
        rng = self._rngs[client]
        i = self._sent[client]
        self._sent[client] += 1
        ship_days = self.order_days + datagen.SHIP_LAG_MAX
        check = rng.random() < self.check_share
        if KIND_CYCLE[i % len(KIND_CYCLE)] == "agg":
            span = 1 + i % 7
            lo = datagen.ship_day(rng.randrange(0, ship_days - span))
            sql = AGG_SQL.format(lo=_d(lo), hi=_d(lo + dt.timedelta(days=span)))
            return ("agg", sql, check)
        lo = datagen.ship_day(rng.randrange(0, ship_days - 7))
        hi = lo + dt.timedelta(days=7)
        olo = lo - dt.timedelta(days=datagen.SHIP_LAG_MAX)
        return ("join", JOIN_SQL.format(lo=_d(lo), hi=_d(hi), olo=_d(olo)), check)

    def run_op(self, ctx, client: int, op):
        kind, sql, check = op
        df = ctx.engine.sql(sql)
        with ctx.tracer.span("engine", "collect"):
            rows = df.collect()
        n = sum(r["n"] for r in rows)
        ctx.tracer.count("rows_matched", n)
        return kind, ({"sql": sql, "rows": [tuple(r) for r in rows]} if check else {})

    def check(self, ctx, records) -> list[str]:
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("CREATE SCHEMA s")
        for t in ("lineitem", "orders"):
            path = os.path.join(self.data_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW s.{t} AS SELECT * FROM read_parquet('{path}')")
        errors = []
        for r in records:
            if not r.ok or "sql" not in r.info:
                continue
            want = con.execute(r.info["sql"]).fetchall()
            if not rows_match(r.info["rows"], want, key_cols=1 if r.kind == "join" else 2):
                errors.append(f"lookup mismatch: {r.info['sql']}")
        con.close()
        return errors

    def counted_checks(self, records) -> int:
        return sum(1 for r in records if r.ok and "sql" in r.info)
