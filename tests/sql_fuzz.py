"""Differential SQL fuzz generator (VERDICT r6 ask #7).

Generates seeded random query shapes — filter/project, FK joins,
aggregations, set operations — over the fixture schema, as a SINGLE
ANSI-SQL text executed verbatim on BOTH Spark and DuckDB, then compared
canonicalized (column-name-sorted, row-sorted, full-precision floats:
the oracle gate's own compare).  The reference has no such corpus; this
is the correctness moat for the declared surface.

Determinism rules baked into the generator (each prevents a known
false-positive class, not a real divergence):
- LIMIT only ever appears under an ORDER BY that totally orders the
  OUTPUT: every projected alias plus the declared key columns, each
  with explicit NULLS FIRST (Spark and DuckDB default opposite null
  placement).  The declared "keys" alone are NOT unique in the
  synthetic data — (l_orderkey, l_linenumber) has ~1200 duplicate
  groups at sf0.001 — so ordering by keys only left the LIMIT choice
  to physical row order, which agreed between engines reading the same
  parquet but diverged the moment the engine-path fuzz re-partitioned
  the data into native tables.  Ordering by every output column makes
  any remaining ties identical rows, so the multiset is deterministic;
- no SUM/AVG over doubles (accumulation order differs; MIN/MAX and raw
  projections of doubles are exact and stay);
- SUM of integers is CAST to BIGINT (DuckDB widens to HUGEINT);
- UPPER/LOWER only on ASCII TPC-H columns (unicode case law differs);
- string literals are sampled from the data and quote-escaped.
"""

from __future__ import annotations

import random

# table → (unique integer key cols, typed columns)
#   kinds: i = integer-ish, d = double, s = string, t = timestamp
SCHEMA: dict[str, tuple[list[str], dict[str, str]]] = {
    "region": (["r_regionkey"], {"r_regionkey": "i", "r_name": "s"}),
    "nation": (
        ["n_nationkey"],
        {"n_nationkey": "i", "n_name": "s", "n_regionkey": "i"},
    ),
    "customer": (
        ["c_custkey"],
        {
            "c_custkey": "i",
            "c_name": "s",
            "c_nationkey": "i",
            "c_acctbal": "d",
            "c_mktsegment": "s",
        },
    ),
    "supplier": (
        ["s_suppkey"],
        {"s_suppkey": "i", "s_name": "s", "s_nationkey": "i", "s_acctbal": "d"},
    ),
    "part": (
        ["p_partkey"],
        {
            "p_partkey": "i",
            "p_name": "s",
            "p_brand": "s",
            "p_type": "s",
            "p_size": "i",
            "p_retailprice": "d",
        },
    ),
    "orders": (
        ["o_orderkey"],
        {
            "o_orderkey": "i",
            "o_custkey": "i",
            "o_orderstatus": "s",
            "o_totalprice": "d",
            "o_orderdate": "t",
            "o_orderpriority": "s",
        },
    ),
    "lineitem": (
        ["l_orderkey", "l_linenumber"],
        {
            "l_orderkey": "i",
            "l_partkey": "i",
            "l_suppkey": "i",
            "l_linenumber": "i",
            "l_quantity": "d",
            "l_extendedprice": "d",
            "l_discount": "d",
            "l_returnflag": "s",
            "l_linestatus": "s",
            "l_shipdate": "t",
        },
    ),
    "documents": (
        ["doc_id"],
        {"doc_id": "i", "lang": "s", "source": "s", "n_chars": "i"},
    ),
}

# ASCII-only string columns where UPPER/LOWER is collation-safe
ASCII_STR = {
    "r_name", "n_name", "c_name", "c_mktsegment", "s_name", "p_brand",
    "o_orderstatus", "o_orderpriority", "l_returnflag", "l_linestatus",
}

# fact-first FK joins: (left, right, left_key, right_key)
FK_JOINS = [
    ("nation", "region", "n_regionkey", "r_regionkey"),
    ("customer", "nation", "c_nationkey", "n_nationkey"),
    ("supplier", "nation", "s_nationkey", "n_nationkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("lineitem", "supplier", "l_suppkey", "s_suppkey"),
]

TS_LITERALS = [
    "TIMESTAMP '1993-06-17 00:00:00'",
    "TIMESTAMP '1995-01-01 00:00:00'",
    "TIMESTAMP '1996-12-31 23:59:59'",
    "TIMESTAMP '1994-03-15 12:00:00'",
]


def sample_pools(con) -> dict[str, list]:
    """Per-column literal pools drawn deterministically from the data so
    predicates are selective but non-vacuous."""
    pools: dict[str, list] = {}
    for t, (_keys, cols) in SCHEMA.items():
        n = con.execute(f"SELECT COUNT(*) FROM {t}").fetchone()[0]
        for c, kind in cols.items():
            if kind == "t":
                continue
            step = max(n // 7, 1)
            # (rn-1) % step = 0, NOT rn % step = 1: the latter never
            # matches when step=1, leaving small tables (region=5,
            # supplier=10 at sf0.001) with EMPTY pools — their literals
            # fell back to '0' and every predicate went vacuous (caught
            # by the 1000-seed sweep as ROLLUP-on-empty mismatches)
            vals = [
                r[0]
                for r in con.execute(
                    f"SELECT {c} FROM (SELECT {c}, ROW_NUMBER() OVER (ORDER BY {c}) rn "
                    f"FROM {t} WHERE {c} IS NOT NULL) WHERE (rn - 1) % {step} = 0 LIMIT 7"
                ).fetchall()
            ]
            pools[f"{t}.{c}"] = vals
    return pools


def _sql_str(v: str) -> str:
    return "'" + str(v).replace("'", "''") + "'"


class FuzzGen:
    def __init__(self, seed: int, pools: dict[str, list]) -> None:
        self.rng = random.Random(seed)
        self.pools = pools

    # ----------------------------------------------------------- helpers
    def _lit(self, table: str, col: str, kind: str) -> str:
        if kind == "t":
            return self.rng.choice(TS_LITERALS)
        pool = self.pools.get(f"{table}.{col}") or [0]
        v = self.rng.choice(pool)
        if kind == "s":
            return _sql_str(v)
        if kind == "d":
            return repr(float(v))
        return str(int(v))

    def _cmp_pred(self, table: str, alias: str | None = None) -> str:
        _keys, cols = SCHEMA[table]
        col = self.rng.choice(list(cols))
        kind = cols[col]
        ref = f"{alias}.{col}" if alias else col
        roll = self.rng.random()
        if roll < 0.12:
            return f"{ref} IS {'NOT ' if self.rng.random() < 0.5 else ''}NULL"
        if kind == "s" and roll < 0.30:
            pool = self.pools.get(f"{table}.{col}") or [""]
            v = str(self.rng.choice(pool))
            prefix = v[: max(1, len(v) // 2)].replace("'", "''")
            prefix = prefix.replace("%", "").replace("_", "")
            return f"{ref} LIKE '{prefix}%'"
        if roll < 0.45 and kind in ("i", "s"):
            lits = {self._lit(table, col, kind) for _ in range(self.rng.randint(1, 4))}
            return f"{ref} IN ({', '.join(sorted(lits))})"
        if roll < 0.58 and kind in ("i", "d", "t"):
            lo = self._lit(table, col, kind)
            hi = self._lit(table, col, kind)
            return f"{ref} BETWEEN {lo} AND {hi}"
        op = self.rng.choice(["=", "<>", "<", "<=", ">", ">="])
        return f"{ref} {op} {self._lit(table, col, kind)}"

    def _pred(self, table: str, alias: str | None = None) -> str:
        n = self.rng.randint(1, 3)
        parts = [self._cmp_pred(table, alias) for _ in range(n)]
        out = parts[0]
        for p in parts[1:]:
            out = f"({out}) {self.rng.choice(['AND', 'OR'])} ({p})"
        if self.rng.random() < 0.2:
            out = f"NOT ({out})"
        if self.rng.random() < 0.15:
            # CASE...END as a top-level conjunct, un-parenthesized ANDs
            # between WHEN and THEN: the extraction's AND split
            # (tables/sqlextract.py, over Spark's parsed plan) must never
            # promote a branch condition to a standalone pruning
            # conjunct — a slip diverges from DuckDB here
            inner = (f"{self._cmp_pred(table, alias)} AND "
                     f"{self._cmp_pred(table, alias)}")
            out = (f"({out}) AND CASE WHEN {inner} THEN 1 ELSE 0 END = "
                   f"{self.rng.choice((0, 1))}")
        return out

    def _scalar_exprs(self, table: str, alias: str | None = None) -> list[str]:
        """Projection list with occasional scalar functions, each aliased."""
        _keys, cols = SCHEMA[table]
        pick = self.rng.sample(list(cols), k=min(len(cols), self.rng.randint(2, 4)))
        out = []
        for i, c in enumerate(pick):
            kind = cols[c]
            ref = f"{alias}.{c}" if alias else c
            roll = self.rng.random()
            if kind == "s" and c in ASCII_STR and roll < 0.25:
                fn = self.rng.choice(["UPPER", "LOWER"])
                out.append(f"{fn}({ref}) AS e{i}")
            elif kind == "s" and roll < 0.40:
                out.append(f"SUBSTRING({ref}, 1, 3) AS e{i}")
            elif kind == "s" and roll < 0.50:
                out.append(f"LENGTH({ref}) AS e{i}")
            elif kind == "i" and roll < 0.35:
                out.append(f"{ref} % 7 AS e{i}")
            elif kind == "i" and roll < 0.50:
                cmpv = self._lit(table, c, kind)
                out.append(f"CASE WHEN {ref} > {cmpv} THEN 'hi' ELSE 'lo' END AS e{i}")
            else:
                out.append(f"{ref} AS e{i}")
        return out

    def _aggs(self, table: str, alias: str | None = None) -> list[str]:
        _keys, cols = SCHEMA[table]
        ints = [c for c, k in cols.items() if k == "i"]
        out = ["COUNT(*) AS cnt"]
        n_extra = self.rng.randint(1, 3)
        for i in range(n_extra):
            roll = self.rng.random()
            c = self.rng.choice(list(cols))
            kind = cols[c]
            ref = f"{alias}.{c}" if alias else c
            if roll < 0.35 and ints:
                ci = self.rng.choice(ints)
                refi = f"{alias}.{ci}" if alias else ci
                out.append(f"CAST(SUM({refi}) AS BIGINT) AS a{i}")
            elif roll < 0.60:
                out.append(f"{self.rng.choice(['MIN', 'MAX'])}({ref}) AS a{i}")
            elif kind in ("i", "s"):
                out.append(f"COUNT(DISTINCT {ref}) AS a{i}")
            else:
                out.append(f"COUNT({ref}) AS a{i}")
        return out

    # ------------------------------------------------------------ shapes
    @staticmethod
    def _total_order(aliases: list[str], keys: list[str]) -> str:
        """ORDER BY clause that totally orders the output (see module
        docstring): all projected aliases, then the key columns, each
        NULLS FIRST."""
        return ", ".join(f"{x} NULLS FIRST" for x in [*aliases, *keys])

    def filter_project(self) -> str:
        table = self.rng.choice(list(SCHEMA))
        keys, _cols = SCHEMA[table]
        proj = self._scalar_exprs(table)
        sql = f"SELECT {', '.join(proj)} FROM {table} WHERE {self._pred(table)}"
        if self.rng.random() < 0.5:
            order = self._total_order([p.split(" AS ")[-1] for p in proj], keys)
            sql += f" ORDER BY {order} LIMIT {self.rng.randint(1, 200)}"
        return sql

    def join_query(self) -> str:
        left, right, lk, rk = self.rng.choice(FK_JOINS)
        jt = self.rng.choice(["JOIN", "LEFT JOIN"])
        lkeys, _ = SCHEMA[left]
        proj = self._scalar_exprs(left, "l") + [
            f"r.{c} AS r{i}"
            for i, c in enumerate(
                self.rng.sample(list(SCHEMA[right][1]), k=self.rng.randint(1, 2))
            )
        ]
        pred_side = self.rng.random()
        preds = []
        if pred_side < 0.7:
            preds.append(self._pred(left, "l"))
        if pred_side > 0.3 and jt == "JOIN":
            # right-side predicates under LEFT JOIN move null-extension
            # semantics around; keep them to INNER where both agree
            preds.append(self._pred(right, "r"))
        where = " AND ".join(f"({p})" for p in preds) or "1=1"
        sql = (
            f"SELECT {', '.join(proj)} FROM {left} l "
            f"{jt} {right} r ON l.{lk} = r.{rk} WHERE {where}"
        )
        if self.rng.random() < 0.5:
            order = self._total_order(
                [p.split(" AS ")[-1] for p in proj],
                [f"l.{k}" for k in lkeys],
            )
            sql += f" ORDER BY {order} LIMIT {self.rng.randint(1, 200)}"
        return sql

    def agg_query(self) -> str:
        table = self.rng.choice(list(SCHEMA))
        _keys, cols = SCHEMA[table]
        groupable = [c for c, k in cols.items() if k in ("i", "s")]
        gb = self.rng.sample(groupable, k=self.rng.randint(1, min(2, len(groupable))))
        aggs = self._aggs(table)
        sql = (
            f"SELECT {', '.join(gb)}, {', '.join(aggs)} FROM {table} "
            f"WHERE {self._pred(table)} GROUP BY {', '.join(gb)}"
        )
        if self.rng.random() < 0.4:
            sql += f" HAVING COUNT(*) >= {self.rng.randint(1, 3)}"
        return sql

    def join_agg_query(self) -> str:
        left, right, lk, rk = self.rng.choice(FK_JOINS)
        rcols = SCHEMA[right][1]
        gb = self.rng.choice([c for c, k in rcols.items() if k in ("i", "s")])
        aggs = self._aggs(left, "l")
        sql = (
            f"SELECT r.{gb} AS g0, {', '.join(aggs)} FROM {left} l "
            f"JOIN {right} r ON l.{lk} = r.{rk} "
            f"WHERE {self._pred(left, 'l')} GROUP BY r.{gb}"
        )
        return sql

    def window_query(self) -> str:
        """Window functions with a TOTAL order inside each partition
        (unique key cols in the OVER ORDER BY — ties would let the two
        engines legally disagree on rank/lag rows)."""
        table = self.rng.choice(list(SCHEMA))
        keys, cols = SCHEMA[table]
        groupable = [c for c, k in cols.items() if k in ("i", "s") and c not in keys]
        g = self.rng.choice(groupable) if groupable else keys[0]
        ints = [c for c, k in cols.items() if k == "i"]
        ci = self.rng.choice(ints)
        # the declared keys are NOT unique (module docstring), so the
        # OVER ORDER BY also includes the function's input column: any
        # remaining peers are then identical in every output-determining
        # value — rank ties are equal, RANGE frames include all peers,
        # LAG/LEAD see the same neighbor value — so the output multiset
        # is engine-independent
        over = f"OVER (PARTITION BY {g} ORDER BY {', '.join(keys)}, {ci})"
        wfn = self.rng.choice(
            [
                f"ROW_NUMBER() {over}",
                f"RANK() {over}",
                f"DENSE_RANK() {over}",
                f"CAST(SUM({ci}) {over} AS BIGINT)",
                f"COUNT(*) {over}",
                f"LAG({ci}, 1) {over}",
                f"LEAD({ci}, 1) {over}",
            ]
        )
        key_list = ", ".join(keys)
        return (
            f"SELECT {key_list}, {g}, {ci}, {wfn} AS w0 FROM {table} "
            f"WHERE {self._pred(table)}"
        )

    def subquery_query(self) -> str:
        """EXISTS / NOT EXISTS / IN / NOT IN over an FK edge.  NOT IN is
        only generated against a NOT NULL key side (TPC-H dims) — a NULL
        in the subquery legally empties the result on both engines but
        adds nothing while making shrinkage analysis murky."""
        left, right, lk, rk = self.rng.choice(FK_JOINS)
        keys, _ = SCHEMA[left]
        proj = ", ".join(keys)
        inner_pred = self._pred(right)
        form = self.rng.choice(["EXISTS", "NOT EXISTS", "IN", "NOT IN"])
        if form in ("EXISTS", "NOT EXISTS"):
            sub = (
                f"{form} (SELECT 1 FROM {right} r WHERE r.{rk} = {left}.{lk} "
                f"AND ({inner_pred}))"
            )
        else:
            sub = f"{lk} {form} (SELECT {rk} FROM {right} WHERE {inner_pred})"
        outer = self._pred(left)
        return (
            f"SELECT {proj} FROM {left} WHERE ({outer}) AND {sub} "
            f"ORDER BY {proj} LIMIT 500"
        )

    def rollup_query(self) -> str:
        """KNOWN DIVERGENCE, found by this fuzz (seeds 115/125 of the
        first expanded run): GROUP BY ROLLUP over an EMPTY input yields
        the grand-total row (all-NULL groups, cnt=0) on DuckDB — the
        SQL-standard grouping-set-() semantics, same as a scalar
        aggregate — but ZERO rows on Spark (grouping sets expand via
        Expand+groupBy, so no input → no groups).  Spark-core behavior,
        not ours to fix; the generator pins ROLLUP inputs non-empty by
        OR-ing a pool literal known to match, keeping the rest of the
        predicate space adversarial."""
        table = self.rng.choice(list(SCHEMA))
        _keys, cols = SCHEMA[table]
        groupable = [c for c, k in cols.items() if k in ("i", "s")]
        gb = self.rng.sample(groupable, k=self.rng.randint(1, min(2, len(groupable))))
        ints = [c for c, k in cols.items() if k == "i"]
        gcols = ", ".join(gb)
        gflags = ", ".join(
            f"CAST(GROUPING({c}) AS BIGINT) AS gf{i}" for i, c in enumerate(gb)
        )
        anchor_col = self.rng.choice(
            [c for c, k in cols.items() if k in ("i", "s")]
        )
        anchor = f"{anchor_col} = {self._lit(table, anchor_col, cols[anchor_col])}"
        return (
            f"SELECT {gcols}, {gflags}, COUNT(*) AS cnt, "
            f"CAST(SUM({self.rng.choice(ints)}) AS BIGINT) AS s0 "
            f"FROM {table} WHERE ({self._pred(table)}) OR ({anchor}) "
            f"GROUP BY ROLLUP ({gcols})"
        )

    def conditional_agg_query(self) -> str:
        """FILTER-clause and CASE-form conditional aggregation."""
        table = self.rng.choice(list(SCHEMA))
        _keys, cols = SCHEMA[table]
        groupable = [c for c, k in cols.items() if k in ("i", "s")]
        g = self.rng.choice(groupable)
        cond = self._cmp_pred(table)
        ints = [c for c, k in cols.items() if k == "i"]
        i0 = self.rng.choice(ints)
        if self.rng.random() < 0.5:
            aggs = (
                f"COUNT(*) FILTER (WHERE {cond}) AS c0, "
                f"CAST(SUM({i0}) FILTER (WHERE {cond}) AS BIGINT) AS s0"
            )
        else:
            aggs = (
                f"CAST(COUNT(CASE WHEN {cond} THEN 1 END) AS BIGINT) AS c0, "
                f"CAST(SUM(CASE WHEN {cond} THEN {i0} END) AS BIGINT) AS s0"
            )
        return (
            f"SELECT {g}, {aggs} FROM {table} GROUP BY {g} "
            f"HAVING COUNT(*) >= {self.rng.randint(1, 2)}"
        )

    def cte_query(self) -> str:
        """WITH bodies over one or two tables; the outer query joins or
        aggregates the CTEs.  No LIMIT (full-result compare), so no
        ordering constraints apply."""
        left, right, lk, rk = self.rng.choice(FK_JOINS)
        lcols = SCHEMA[left][1]
        rcols = SCHEMA[right][1]
        g = self.rng.choice([c for c, k in rcols.items() if k in ("i", "s")])
        ints = [c for c, k in lcols.items() if k == "i"]
        i0 = self.rng.choice(ints)
        return (
            f"WITH lf AS (SELECT {lk} AS k, {i0} AS m FROM {left} "
            f"WHERE {self._pred(left)}), "
            f"rf AS (SELECT {rk} AS k, {g} AS g FROM {right} "
            f"WHERE {self._pred(right)}) "
            f"SELECT rf.g AS g0, COUNT(*) AS cnt, "
            f"CAST(SUM(lf.m) AS BIGINT) AS s0 "
            f"FROM lf JOIN rf ON lf.k = rf.k GROUP BY rf.g"
        )

    def set_op_query(self) -> str:
        table = self.rng.choice(list(SCHEMA))
        _keys, cols = SCHEMA[table]
        # int/string projections only: dodges NaN/-0.0 set-semantics edges
        safe = [c for c, k in cols.items() if k in ("i", "s")]
        pick = self.rng.sample(safe, k=min(len(safe), 2))
        proj = ", ".join(pick)
        op = self.rng.choice(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"])
        return (
            f"SELECT {proj} FROM {table} WHERE {self._pred(table)} "
            f"{op} SELECT {proj} FROM {table} WHERE {self._pred(table)}"
        )

    def generate(self) -> str:
        shape = self.rng.choices(
            [
                self.filter_project,
                self.join_query,
                self.agg_query,
                self.join_agg_query,
                self.set_op_query,
                self.window_query,
                self.subquery_query,
                self.rollup_query,
                self.conditional_agg_query,
                self.cte_query,
            ],
            weights=[20, 16, 16, 8, 8, 10, 10, 6, 6, 8],
        )[0]
        return shape()


def generate_corpus(n: int, pools: dict[str, list], seed0: int = 0) -> list[str]:
    """n seeded query texts; seed k is reproducible in isolation."""
    return [FuzzGen(seed0 + k, pools).generate() for k in range(n)]
