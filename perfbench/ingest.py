"""The commits of the ``batch`` workload, on freshly built tables, cycling
through small ``insert_into`` appends, copy-on-write
``update`` and ``delete_from`` over ``condition_sql`` date ranges,
``merge_into`` bounded by ``table_filter_sql``, and
``apply_changes_as_scd2`` on a customer dimension.

The operation log is generated up front from the seed, together with a
Python model of the expected table contents, so every commit's
added-minus-removed record count can be checked against the expected
row delta.  At the end the tables must hash-match a DuckDB mirror that
replays the same log with plain SQL.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random

import datagen
from common import quantile

ORDERS = "w.orders"
DIM = "w.dim"
ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority"]
ORDERS_DDL = ("o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority STRING")
DIM_DDL = ("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE, "
           "effective_start TIMESTAMP, effective_end TIMESTAMP, is_current BOOLEAN")
SCD2_SRC_DDL = "c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE, op STRING"
SCD2_BASE = dt.datetime(2020, 1, 1)
KINDS = ("append", "update", "delete", "merge", "scd2")  # the log cycles through these
REWRITES = ("update", "delete", "merge")
# final-contents comparison columns, timestamps as epoch microseconds
CHECK_COLS = {
    ORDERS: ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
             "unix_micros(o_orderdate)", "o_orderpriority"],
    DIM: ["c_custkey", "c_mktsegment", "c_acctbal", "unix_micros(effective_start)",
          "unix_micros(effective_end)", "is_current"],
}


def _row_bytes(row) -> int:
    """Submitted size of a row: 8 bytes per number or timestamp, the
    UTF-8 length of each string."""
    return sum(len(v.encode()) if isinstance(v, str) else 8 for v in row)


class Commits:
    """The commit half of ``batch``, which interleaves these commits with
    registry queries and operator calls."""

    scale = 0.002
    order_days = 360
    n_ops = 300

    def __init__(self, seed: int, tiny: bool = False) -> None:
        self.seed = seed
        if tiny:
            self.scale, self.order_days = 0.0005, 90

    # -- inputs ----------------------------------------------------------
    def generate(self) -> None:
        tables = datagen.star_tables(self.seed, self.scale, self.order_days)
        o = tables["orders"].to_pylist()
        self.orders0 = [tuple(r[c] for c in ORDER_COLS) for r in o]
        c = tables["customer"].to_pylist()[:300]
        self.dim0 = [(r["c_custkey"], r["c_mktsegment"], r["c_acctbal"],
                      SCD2_BASE, None, True) for r in c]
        self.ops = self._op_log()

    def _op_log(self) -> list[tuple]:
        """Seeded operations with their expected row delta, generated
        against a model of the table contents."""
        rng = random.Random(self.seed)
        orders = {r[0]: r for r in self.orders0}
        dim = {r[0]: (r[1], r[2]) for r in self.dim0}
        next_key = max(orders) + 1
        next_cust = max(dim) + 1
        day0 = datagen.ORDER_START

        def new_order(key, lo_day, hi_day):
            return (key, rng.randrange(0, 1000), rng.choice("FOP"),
                    round(rng.uniform(1000, 50000), 2),
                    day0 + dt.timedelta(days=rng.randrange(lo_day, hi_day)),
                    rng.choice(datagen.PRIORITIES))

        ops = []
        for i in range(self.n_ops):
            kind = KINDS[i % len(KINDS)]
            if kind == "append":
                rows = [new_order(next_key + j, 0, self.order_days) for j in range(20)]
                next_key += len(rows)
                for r in rows:
                    orders[r[0]] = r
                ops.append((kind, rows, len(rows), 0))
            elif kind in ("update", "delete"):
                lo = rng.randrange(0, self.order_days - 3)
                a, b = day0 + dt.timedelta(days=lo), day0 + dt.timedelta(days=lo + 2)
                cond = (f"o_orderdate >= TIMESTAMP '{a:%Y-%m-%d}' AND "
                        f"o_orderdate < TIMESTAMP '{b:%Y-%m-%d}'")
                hit = [k for k, r in orders.items() if a <= r[4] < b]
                if kind == "update":
                    status = rng.choice("FOP")
                    for k in hit:
                        r = orders[k]
                        orders[k] = (r[0], r[1], status, r[3] + 1.5, r[4], r[5])
                    ops.append((kind, (cond, status), 0, len(hit)))
                else:
                    for k in hit:
                        del orders[k]
                    ops.append((kind, cond, -len(hit), len(hit)))
            elif kind == "merge":
                lo = rng.randrange(0, self.order_days - 30)
                a, b = day0 + dt.timedelta(days=lo), day0 + dt.timedelta(days=lo + 30)
                cond = (f"o_orderdate >= TIMESTAMP '{a:%Y-%m-%d}' AND "
                        f"o_orderdate < TIMESTAMP '{b:%Y-%m-%d}'")
                inside = sorted(k for k, r in orders.items() if a <= r[4] < b)
                upd = rng.sample(inside, min(10, len(inside)))
                rows = [(k, orders[k][1], rng.choice("FOP"), round(rng.uniform(1000, 50000), 2),
                         orders[k][4], orders[k][5]) for k in upd]
                new = [new_order(next_key + j, lo, lo + 30) for j in range(10)]
                next_key += len(new)
                for r in rows + new:
                    orders[r[0]] = r
                ops.append((kind, (cond, rows + new), len(new), len(rows) + len(new)))
            else:
                ts = SCD2_BASE + dt.timedelta(hours=i + 1)
                keys = rng.sample(sorted(dim), 10)
                src = []
                for k in keys:
                    seg, bal = dim[k]
                    if rng.random() < 0.8:
                        seg, bal = rng.choice(datagen.SEGMENTS), round(rng.uniform(-999, 9999), 2)
                    src.append((k, seg, bal))
                src += [(next_cust + j, rng.choice(datagen.SEGMENTS),
                         round(rng.uniform(-999, 9999), 2)) for j in range(5)]
                next_cust += 5
                delta = sum(1 for k, seg, bal in src if dim.get(k) != (seg, bal))
                for k, seg, bal in src:
                    dim[k] = (seg, bal)
                ops.append((kind, (ts, src), delta, delta))
        return ops

    def build(self, ctx) -> None:
        self._next = 0
        spark, eng = ctx.spark, ctx.engine
        eng.catalog.create_table(ORDERS, ORDERS_DDL, partition_spec=["month(o_orderdate)"])
        eng.insert_into(ORDERS).dataframe(spark.createDataFrame(self.orders0, ORDERS_DDL)).execute()
        eng.catalog.create_table(DIM, DIM_DDL)
        eng.insert_into(DIM).dataframe(spark.createDataFrame(self.dim0, DIM_DDL)).execute()
        self.warehouse = ctx.engine.catalog.warehouse
        self.user_bytes = 0

    # -- operations ------------------------------------------------------
    def next_op(self):
        i = self._next
        self._next += 1
        return (self.ops[i][0], i)

    def run_op(self, ctx, op):
        kind, i = op
        _, arg, _, changed = self.ops[i]
        spark, eng = ctx.spark, ctx.engine
        from pyspark.sql import functions as F

        submitted = []
        if kind == "append":
            submitted = arg
            eng.insert_into(ORDERS).dataframe(spark.createDataFrame(arg, ORDERS_DDL)).execute()
        elif kind == "update":
            cond, status = arg
            eng.update(ORDERS).condition_sql(cond).update_sets({
                "o_orderstatus": status,
                "o_totalprice": F.col("o_totalprice") + F.lit(1.5),
            }).execute()
        elif kind == "delete":
            eng.delete_from(ORDERS).condition_sql(arg).execute()
        elif kind == "merge":
            cond, submitted = arg
            src = spark.createDataFrame(submitted, ORDERS_DDL)
            (eng.merge_into(ORDERS).using(src).key_columns(["o_orderkey"])
             .table_filter_sql(cond).when_matched_update().when_not_matched_insert()
             .execute())
        else:
            ts, submitted = arg
            src = spark.createDataFrame([r + ("U",) for r in submitted], SCD2_SRC_DDL)
            (eng.apply_changes_as_scd2(DIM).table_filter_sql("c_custkey >= 0")
             .source_dataframe(src).key_columns(["c_custkey"])
             .operation_type_column("op", "D")
             .change_tracking_columns(["c_mktsegment", "c_acctbal"])
             .current_flag_column("is_current").effective_timestamp(ts).execute())
        self.user_bytes += sum(_row_bytes(r) for r in submitted)
        if kind in REWRITES:
            ctx.tracer.count("rows_changed", changed)
        return kind, {"i": i, "rows": len(submitted)}

    # -- checks ----------------------------------------------------------
    def check(self, ctx, records) -> list[str]:
        errors = []
        counts = ctx.tracer.op_counts
        for r in records:
            if not r.ok:
                continue
            c = counts.get(r.info["op_id"], {})
            got = c.get("added_records", 0) - c.get("removed_records", 0)
            want = self.ops[r.info["i"]][2]
            if got != want:
                errors.append(f"{r.kind} op {r.info['i']}: row delta {got}, expected {want}")
        mirror = self._mirror(range(self._next))
        for table, cols in CHECK_COLS.items():
            rows = ctx.engine.table(table).selectExpr(*cols).collect()
            if _digest(tuple(r) for r in rows) != mirror[table]:
                errors.append(f"{table} contents differ from the DuckDB mirror")
        return errors

    def counted_checks(self, records) -> int:
        return sum(1 for r in records if r.ok) + 2

    def _mirror(self, done) -> dict[str, str]:
        """Replay the executed prefix of the log in DuckDB."""
        import duckdb

        con = duckdb.connect()
        con.execute("SET TimeZone='UTC'")
        con.execute("CREATE TABLE o (o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus VARCHAR, "
                    "o_totalprice DOUBLE, o_orderdate TIMESTAMP, o_orderpriority VARCHAR)")
        con.execute("CREATE TABLE d (c_custkey BIGINT, c_mktsegment VARCHAR, c_acctbal DOUBLE, "
                    "effective_start TIMESTAMP, effective_end TIMESTAMP, is_current BOOLEAN)")
        con.executemany("INSERT INTO o VALUES (?, ?, ?, ?, ?, ?)", self.orders0)
        con.executemany("INSERT INTO d VALUES (?, ?, ?, ?, ?, ?)", self.dim0)
        for i in done:
            kind, arg, _, _ = self.ops[i]
            if kind == "append":
                con.executemany("INSERT INTO o VALUES (?, ?, ?, ?, ?, ?)", arg)
            elif kind == "update":
                cond, status = arg
                con.execute(f"UPDATE o SET o_orderstatus = ?, o_totalprice = o_totalprice + 1.5 "
                            f"WHERE {cond}", [status])
            elif kind == "delete":
                con.execute(f"DELETE FROM o WHERE {arg}")
            elif kind == "merge":
                cond, rows = arg
                con.execute("CREATE OR REPLACE TEMP TABLE src AS SELECT * FROM o LIMIT 0")
                con.executemany("INSERT INTO src VALUES (?, ?, ?, ?, ?, ?)", rows)
                con.execute(
                    "UPDATE o SET o_custkey = src.o_custkey, o_orderstatus = src.o_orderstatus, "
                    "o_totalprice = src.o_totalprice, o_orderdate = src.o_orderdate, "
                    "o_orderpriority = src.o_orderpriority FROM src "
                    f"WHERE o.o_orderkey = src.o_orderkey AND o.{cond.replace(' AND ', ' AND o.')}")
                con.execute("INSERT INTO o SELECT * FROM src WHERE o_orderkey NOT IN "
                            "(SELECT o_orderkey FROM o)")
            else:
                ts, rows = arg
                con.execute("CREATE OR REPLACE TEMP TABLE s2 (c_custkey BIGINT, "
                            "c_mktsegment VARCHAR, c_acctbal DOUBLE)")
                con.executemany("INSERT INTO s2 VALUES (?, ?, ?)", rows)
                con.execute(
                    "UPDATE d SET effective_end = ?, is_current = false FROM s2 "
                    "WHERE d.c_custkey = s2.c_custkey AND d.is_current AND "
                    "(d.c_mktsegment IS DISTINCT FROM s2.c_mktsegment OR "
                    "d.c_acctbal IS DISTINCT FROM s2.c_acctbal)", [ts])
                con.execute(
                    "INSERT INTO d SELECT c_custkey, c_mktsegment, c_acctbal, ?, NULL, true "
                    "FROM s2 WHERE NOT EXISTS (SELECT 1 FROM d WHERE d.c_custkey = s2.c_custkey "
                    "AND d.is_current)", [ts])
        out = {
            ORDERS: _digest(con.execute(
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                "epoch_us(o_orderdate), o_orderpriority FROM o").fetchall()),
            DIM: _digest(con.execute(
                "SELECT c_custkey, c_mktsegment, c_acctbal, epoch_us(effective_start), "
                "epoch_us(effective_end), is_current FROM d").fetchall()),
        }
        con.close()
        return out

    # -- metrics ---------------------------------------------------------
    def start_measure(self, ctx) -> None:
        self._files_before = _files(self.warehouse)
        self.user_bytes = 0

    def layer_metrics(self, ctx, records, elapsed_s: float) -> dict[str, float]:
        plain = [r for r in records if r.ok and not r.info["traced"]]
        by_kind = lambda *ks: [r.ms for r in plain if r.kind in ks]  # noqa: E731
        rows = sum(r.info["rows"] for r in records if r.ok)
        after = _files(self.warehouse)
        written = sum(size for p, size in after.items() if p not in self._files_before)
        live_bytes = live_rows = 0
        for t in (ORDERS, DIM):
            tot = ctx.engine.catalog.table(t).files().selectExpr(
                "sum(size_bytes)", "sum(records)").collect()[0]
            live_bytes += tot[0] or 0
            live_rows += tot[1] or 0
        counts = ctx.tracer.op_counts
        rw = [counts.get(r.info["op_id"], {}) for r in records if r.ok and r.kind in REWRITES]
        rewritten = sum(c.get("removed_records", 0) for c in rw)
        return {
            "dml.append_p50_ms": quantile(by_kind("append"), 0.5),
            "dml.rewrite_p50_ms": quantile(by_kind("update", "delete"), 0.5),
            "dml.merge_p50_ms": quantile(by_kind("merge"), 0.5),
            "dml.scd2_p50_ms": quantile(by_kind("scd2"), 0.5),
            "dml.rows_written_per_s": rows / elapsed_s if elapsed_s else 0.0,
            "tables.write_amp": written / self.user_bytes if self.user_bytes else 0.0,
            "tables.stored_bytes_per_row": live_bytes / live_rows if live_rows else 0.0,
            "tables.rewrite_efficiency": (sum(c.get("rows_changed", 0) for c in rw) / rewritten
                                          if rewritten else 0.0),
        }


def _files(root: str) -> dict[str, int]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            out[p] = os.path.getsize(p)
    return out


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in sorted(repr(tuple(r)) for r in rows):
        h.update(r.encode())
    return h.hexdigest()
