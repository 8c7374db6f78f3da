"""resolve_sql WHERE-conjunct extraction → manifest pruning.

Unit layer: tables/sqlextract.py's walk of Spark's parsed plan on
adversarial SQL text (parser only, no tables).  Integration layer:
engine.sql over a partitioned native table must prune files (observed
via metric collectors) while returning exactly the unpruned answer.
The full 200-shape differential corpus runs in
tests/test_engine_sql_fuzz.py.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from swiftlake_spark.tables.sqlextract import analyze  # noqa: E402

SCHEMAS = {
    "db.lineitem": {"l_orderkey", "l_partkey", "l_quantity", "l_shipdate",
                    "l_returnflag"},
    "db.orders": {"o_orderkey", "o_custkey", "o_totalprice", "o_orderdate",
                  "o_orderpriority"},
    "nation": {"n_nationkey", "n_name"},
    # non-reserved-keyword column names (Spark allows these bare)
    "db.spans": {"id", "start", "width", "end", "case"},
}


def _an(spark, sql):
    infos, _quals = analyze(
        spark,
        sql,
        lambda n: SCHEMAS.get(n),
        lambda b: b in ("db.lineitem", "db.orders", "db.spans"),
    )
    return {
        fi.ref + (f"@{fi.alias}" if fi.alias else ""): fi.conjuncts
        for fi in infos
    }


class TestAnalyze:
    def test_simple_conjuncts(self, spark):
        got = _an(spark, "SELECT l_orderkey FROM db.lineitem "
                         "WHERE l_quantity > 5 AND l_returnflag = 'R'")
        assert got == {"db.lineitem": ["l_quantity > 5", "l_returnflag = 'R'"]}

    def test_join_splits_per_side_and_skips_cross_table(self, spark):
        got = _an(
            spark,
            "SELECT l.l_orderkey FROM db.lineitem l JOIN db.orders o "
            "ON l.l_orderkey = o.o_orderkey "
            "WHERE l.l_quantity > 5 AND o.o_totalprice > 100 "
            "AND l.l_partkey = o.o_custkey"
        )
        assert got == {
            "db.lineitem@l": ["l_quantity > 5"],
            "db.orders@o": ["o_totalprice > 100"],
        }

    def test_top_level_or_is_one_unit(self, spark):
        got = _an(spark, "SELECT * FROM db.orders "
                         "WHERE o_totalprice > 10 OR o_custkey = 5")
        assert got == {"db.orders": ["o_totalprice > 10 OR o_custkey = 5"]}

    def test_or_spanning_tables_extracts_nothing(self, spark):
        got = _an(
            spark,
            "SELECT * FROM db.lineitem l JOIN db.orders o "
            "ON l.l_orderkey = o.o_orderkey "
            "WHERE l.l_quantity > 5 OR o.o_custkey = 1"
        )
        assert got == {"db.lineitem@l": [], "db.orders@o": []}

    def test_null_extended_side_never_filtered(self, spark):
        got = _an(
            spark,
            "SELECT * FROM nation n LEFT JOIN db.orders o "
            "ON n.n_nationkey = o.o_custkey WHERE o.o_orderkey IS NULL"
        )
        assert got == {"db.orders@o": []}

    def test_right_join_extends_left_side(self, spark):
        got = _an(
            spark,
            "SELECT * FROM db.orders o RIGHT JOIN nation n "
            "ON o.o_custkey = n.n_nationkey WHERE o.o_totalprice > 5"
        )
        assert got == {"db.orders@o": []}

    def test_correlated_subquery(self, spark):
        got = _an(
            spark,
            "SELECT o_orderkey FROM db.orders WHERE o_totalprice < 500 "
            "AND EXISTS (SELECT 1 FROM db.lineitem r "
            "WHERE r.l_orderkey = db.orders.o_orderkey AND r.l_quantity > 30)"
        )
        # outer pred extracted; correlation conjunct skipped (two tables);
        # inner single-table pred extracted for the inner occurrence
        assert got == {
            "db.orders": ["o_totalprice < 500"],
            "db.lineitem@r": ["l_quantity > 30"],
        }

    def test_set_op_arms_independent(self, spark):
        infos, _quals = analyze(
            spark,
            "SELECT o_orderkey FROM db.orders WHERE o_custkey = 1 "
            "UNION ALL SELECT o_orderkey FROM db.orders WHERE o_custkey = 2",
            lambda n: SCHEMAS.get(n),
            lambda b: b in ("db.lineitem", "db.orders"),
        )
        assert sorted(fi.conjuncts for fi in infos) == [
            ["o_custkey = 1"], ["o_custkey = 2"],
        ]

    def test_between_and_does_not_split(self, spark):
        got = _an(spark, "SELECT * FROM db.lineitem "
                         "WHERE l_quantity BETWEEN 1 AND 5 AND l_partkey = 3")
        assert got == {"db.lineitem": ["l_quantity BETWEEN 1 AND 5",
                                       "l_partkey = 3"]}

    def test_keyword_predicates_keep_their_operand(self, spark):
        # IN / BETWEEN / LIKE / IS ... nodes (and the NOT of a negated
        # one) start their origin at the keyword; the extracted text must
        # still start at the operand, sign included
        got = _an(spark, "SELECT * FROM db.orders WHERE o_custkey NOT IN (1, 2) "
                         "AND o_totalprice NOT BETWEEN 1 AND 2 "
                         "AND o_orderpriority NOT LIKE 'x%' "
                         "AND o_orderkey IS DISTINCT FROM 1 AND -o_custkey IN (3)")
        assert got == {"db.orders": [
            "o_custkey NOT IN (1, 2)", "o_totalprice NOT BETWEEN 1 AND 2",
            "o_orderpriority NOT LIKE 'x%'", "o_orderkey IS DISTINCT FROM 1",
            "-o_custkey IN (3)",
        ]}

    def test_literal_noise_is_inert(self, spark):
        got = _an(spark, "SELECT * FROM db.orders WHERE o_orderpriority = "
                         "'WHERE x AND FROM db.lineitem OR'")
        assert got == {
            "db.orders": ["o_orderpriority = 'WHERE x AND FROM db.lineitem OR'"]
        }

    def test_unknown_schema_blocks_bare_columns(self, spark):
        got = _an(spark, "SELECT * FROM (SELECT 1 AS x) d, db.orders "
                         "WHERE o_custkey = 7 AND x = 1")
        assert got == {"db.orders": []}

    def test_bare_column_of_outer_table_in_subquery_skipped(self, spark):
        # inner block's bare column belongs to the OUTER table: legal SQL
        # correlation; must not be attributed to the inner table
        got = _an(
            spark,
            "SELECT 1 FROM db.orders WHERE EXISTS "
            "(SELECT 1 FROM db.lineitem WHERE o_custkey = l_partkey)"
        )
        assert got["db.lineitem"] == []

    def test_parameter_marker_conjunct_never_extracted(self, spark):
        assert _an(spark, "SELECT * FROM db.orders WHERE o_custkey = 1 "
                          "AND o_totalprice = :k") == {"db.orders": ["o_custkey = 1"]}

    def test_window_clause_keywords_ignored(self, spark):
        got = _an(
            spark,
            "SELECT o_custkey, ROW_NUMBER() OVER (PARTITION BY o_custkey "
            "ORDER BY o_orderkey) AS rn FROM db.orders WHERE o_totalprice > 3"
        )
        assert got == {"db.orders": ["o_totalprice > 3"]}

    def test_cte_bodies_extract(self, spark):
        got = _an(
            spark,
            "WITH a AS (SELECT l_orderkey AS k FROM db.lineitem "
            "WHERE l_quantity > 2), b AS (SELECT o_orderkey FROM db.orders "
            "WHERE o_custkey = 5) "
            "SELECT COUNT(*) AS n FROM a JOIN b ON a.k = b.o_orderkey"
        )
        assert got == {
            "db.lineitem": ["l_quantity > 2"],
            "db.orders": ["o_custkey = 5"],
        }

    def test_cte_alias_columns_do_not_leak_to_outer(self, spark):
        # outer WHERE references the CTE's column; must not be attributed
        # to any lakehouse table
        got = _an(
            spark,
            "WITH a AS (SELECT l_orderkey AS k FROM db.lineitem "
            "WHERE l_quantity > 2) SELECT k FROM a WHERE k < 100"
        )
        assert got == {"db.lineitem": ["l_quantity > 2"]}

    # -- round-8 ADVICE regressions ------------------------------------
    def test_line_comment_predicate_never_extracted(self, spark):
        # the commented-out predicate must never become a pruning conjunct
        assert _an(spark, "SELECT * FROM db.orders WHERE o_custkey = 1 "
                          "-- AND o_totalprice = 2") == {"db.orders": ["o_custkey = 1"]}

    def test_block_comment_predicate_never_extracted(self, spark):
        assert _an(spark, "SELECT * FROM db.orders /* WHERE o_custkey = 9 */ "
                          "WHERE o_custkey = 1") == {"db.orders": ["o_custkey = 1"]}

    def test_comment_chars_inside_literal_are_inert(self, spark):
        got = _an(spark, "SELECT * FROM db.orders WHERE o_orderpriority = '--x/*'"
                         " AND o_custkey = 1")
        assert "o_custkey = 1" in got["db.orders"]

    def test_case_end_nesting_does_not_split(self, spark):
        # an AND between WHEN and THEN is inside the CASE expression;
        # splitting there would prune by a branch condition the WHERE
        # does not imply (rows with o_totalprice <> 2 satisfy this WHERE)
        got = _an(
            spark,
            "SELECT * FROM db.orders WHERE CASE WHEN o_custkey = 1 "
            "AND o_totalprice = 2 THEN 1 ELSE 0 END = 0 AND o_orderkey = 5"
        )
        conjs = got["db.orders"]
        assert "o_orderkey = 5" in conjs
        assert not any(
            c.replace(" ", "") in ("o_totalprice=2", "o_custkey=1")
            for c in conjs
        )
        assert all("END" in c for c in conjs if "CASE" in c)

    def test_or_inside_case_does_not_collapse_where(self, spark):
        got = _an(
            spark,
            "SELECT * FROM db.orders WHERE CASE WHEN o_custkey = 1 "
            "OR o_custkey = 2 THEN 1 ELSE 0 END = 1 AND o_orderkey = 5"
        )
        assert "o_orderkey = 5" in got["db.orders"]

    def test_cte_reference_is_never_a_key_source(self, spark):
        # FROM d must resolve to the CTE, not a same-named catalog
        # relation: columns_of must not be consulted for 'd', and the
        # equi edge's other side must be nameless (derived)
        sql = ("WITH d AS (SELECT 1 AS k) SELECT * FROM db.lineitem l "
               "JOIN d ON l.l_orderkey = d.k WHERE l.l_quantity > 2")
        seen = []

        def columns_of(name):
            seen.append(name)
            return SCHEMAS.get(name)

        infos, _quals = analyze(spark, sql, columns_of,
                                lambda b: b in ("db.lineitem", "db.orders"))
        assert "d" not in seen
        (fi,) = [f for f in infos if f.ref == "db.lineitem"]
        assert fi.conjuncts == ["l_quantity > 2"]
        for _my_col, other_name, other_info, _oc in fi.equi:
            assert other_name is None and other_info is None

    def test_cte_shadowing_known_schema_name(self, spark):
        # the CTE is named like a real relation with a DIFFERENT schema;
        # bare columns must not be attributed through the shadowed schema
        got = _an(
            spark,
            "WITH nation AS (SELECT o_custkey AS n_nationkey FROM db.orders"
            " WHERE o_totalprice > 9) "
            "SELECT * FROM nation, db.lineitem WHERE n_nationkey = 3 "
            "AND l_quantity > 2"
        )
        # unknown-schema FROM (the CTE) blocks bare-column attribution in
        # the outer block; the CTE body still extracts
        assert got == {"db.orders": ["o_totalprice > 9"],
                       "db.lineitem": []}

    def test_with_rollup_is_not_a_cte(self, spark):
        got = _an(spark, "SELECT o_custkey, COUNT(*) AS n FROM db.orders "
                         "WHERE o_totalprice > 1 GROUP BY o_custkey WITH ROLLUP")
        assert got == {"db.orders": ["o_totalprice > 1"]}

    # -- round-9 ADVICE regressions ------------------------------------
    def test_bare_end_column_does_not_desync_case_tracking(self, spark):
        # ADVICE r8 (medium): the shared paren/CASE depth counter went to
        # -1 on a bare `end` column, so the next CASE restored it to 0
        # and WHEN-branch ANDs split as top-level conjuncts — a branch
        # condition ('start = 2') became a pruning filter that silently
        # dropped matching rows.
        got = _an(
            spark,
            "SELECT * FROM db.spans WHERE end = 1 AND CASE WHEN id = 5 "
            "AND start = 2 AND width = 3 THEN 1 ELSE 0 END = 0"
        )
        conjs = got["db.spans"]
        assert not any(
            c.replace(" ", "") in ("id=5", "start=2", "width=3")
            for c in conjs
        )

    def test_bare_end_column_siblings_still_extract(self, spark):
        # VERDICT r8 ask #9: a column named `end` must not disable
        # conjunct extraction for the rest of the statement
        got = _an(spark, "SELECT * FROM db.spans WHERE end = 1 AND id = 3")
        assert "id = 3" in got["db.spans"]

    def test_qualified_end_column_siblings_still_extract(self, spark):
        got = _an(
            spark,
            "SELECT * FROM db.spans s WHERE s.end = 1 AND CASE WHEN "
            "s.id = 5 AND s.start = 2 THEN 1 ELSE 0 END = 0 AND s.id = 3"
        )
        conjs = got["db.spans@s"]
        assert "id = 3" in conjs
        assert not any(
            c.replace(" ", "") in ("id=5", "start=2") for c in conjs
        )

    def test_end_column_inside_when_branch_does_not_close_case(self, spark):
        # `end` as a column INSIDE an open CASE must not close it early
        got = _an(
            spark,
            "SELECT * FROM db.spans WHERE CASE WHEN end = 1 AND start = 2 "
            "THEN 1 ELSE 0 END = 0 AND id = 3"
        )
        conjs = got["db.spans"]
        assert "id = 3" in conjs
        assert not any(c.replace(" ", "") == "start=2" for c in conjs)

    def test_case_named_column_siblings_still_extract(self, spark):
        got = _an(spark, "SELECT * FROM db.spans WHERE case = 1 AND id = 2")
        assert "id = 2" in got["db.spans"]

    def test_cte_named_rollup_is_recorded(self, spark):
        # ADVICE r8 (low): 'WITH rollup AS (...)' was mistaken for a
        # GROUP BY modifier, so the CTE name was never recorded and a
        # same-named catalog relation could shadow it
        got = _an(
            spark,
            "WITH rollup AS (SELECT o_custkey AS k FROM db.orders "
            "WHERE o_totalprice > 9) SELECT * FROM rollup WHERE k < 5"
        )
        assert got == {"db.orders": ["o_totalprice > 9"]}

    def test_function_names_not_columns(self, spark):
        got = _an(spark, "SELECT * FROM db.orders "
                         "WHERE LENGTH(o_orderpriority) > 2 AND o_custkey = 1")
        # LENGTH(...) conjunct attributes to orders via its column arg and
        # survives attribution; the grammar then rejects it at parse time
        # (resolve_sql skips it).  The plain conjunct must still extract.
        assert "o_custkey = 1" in got["db.orders"]


class TestResolveSqlPruning:
    ORDERS_SCHEMA = ("o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE, "
                     "o_orderdate TIMESTAMP, o_status STRING")
    ORDERS_ROWS = [
        (i, i % 10, float(i),
         dt.datetime(1995, 1, 1) + dt.timedelta(days=i), "AB"[i % 2])
        for i in range(100)
    ]

    @pytest.fixture()
    def eng(self, spark, tmp_path):
        from swiftlake_spark.engine import SwiftLakeEngine

        eng = SwiftLakeEngine(spark, warehouse=str(tmp_path / "wh"))
        eng.catalog.create_table(
            "db.orders", self.ORDERS_SCHEMA, partition_spec=["bucket(4, o_custkey)"]
        )
        eng.insert_into("db.orders").dataframe(
            spark.createDataFrame(self.ORDERS_ROWS, schema=self.ORDERS_SCHEMA)
        ).execute()
        return eng

    def _plain_views(self, spark, **tables):
        """Register the given (rows, schema) pairs, plus ``orders``, as
        plain Spark temp views: the same rows with no lakehouse planning."""
        tables.setdefault("orders", (self.ORDERS_ROWS, self.ORDERS_SCHEMA))
        for name, (rows, schema) in tables.items():
            spark.createDataFrame(rows, schema=schema) \
                .createOrReplaceTempView(f"plain_{name}")

    def _scans(self, eng):
        from swiftlake_spark.plans.metrics import ScanMetrics

        seen = []
        eng.add_metric_collector(
            lambda m: seen.append(m) if isinstance(m, ScanMetrics) else None
        )
        return seen

    def test_prunes_partitions_and_matches_unpruned(self, eng):
        seen = self._scans(eng)
        q = ("SELECT o_orderkey, o_totalprice FROM db.orders "
             "WHERE o_custkey = 3 AND o_totalprice < 50 ORDER BY o_orderkey")
        got = [r.o_orderkey for r in eng.sql(q).collect()]
        assert got == [3, 13, 23, 33, 43]
        assert seen and seen[-1].pruned_files > 0

    def test_self_join_gets_per_occurrence_filters(self, eng):
        seen = self._scans(eng)
        q = ("SELECT a.o_orderkey FROM db.orders a JOIN db.orders b "
             "ON a.o_orderkey = b.o_orderkey "
             "WHERE a.o_custkey = 3 AND b.o_custkey = 3 AND b.o_totalprice < 10")
        assert [r.o_orderkey for r in eng.sql(q).collect()] == [3]
        # both occurrences scanned pruned (custkey=3 hits one bucket
        # each); join-filter key collection may plan a side once more,
        # equally pruned
        assert seen and all(m.scanned_files == 1 for m in seen)

    def test_ambiguous_qualifier_falls_back_unpruned(self, eng):
        seen = self._scans(eng)
        q = ("SELECT o_orderkey FROM db.orders WHERE o_totalprice < 30 "
             "AND EXISTS (SELECT 1 FROM db.orders i "
             "WHERE i.o_orderkey = db.orders.o_orderkey AND i.o_custkey = 3)")
        assert sorted(r.o_orderkey for r in eng.sql(q).collect()) == [3, 13, 23]
        # two FROM occurrences + a table-name qualifier → one shared
        # UNPRUNED view (per-instance filters would be unsound to place)
        assert [m.pruned_files for m in seen] == [0]

    def test_unparseable_conjunct_skipped_not_fatal(self, eng):
        q = ("SELECT o_orderkey FROM db.orders "
             "WHERE o_custkey % 7 = 3 AND o_custkey = 3 ORDER BY o_orderkey")
        assert [r.o_orderkey for r in eng.sql(q).collect()] == [3, 13, 23, 33, 43, 53, 63, 73, 83, 93]

    def test_join_filter_pushdown_prunes_fact_by_dim_keys(self, eng, spark):
        """README 'Joining with a filter table' elevated to the manifest:
        the dim's selectivity (via its extracted conjuncts) bounds the
        fact's join keys, and the fact manifest prunes on the IN set."""
        sch = "l_orderkey BIGINT, l_qty DOUBLE"
        eng.catalog.create_table(
            "db.li", sch, partition_spec=["bucket(4, l_orderkey)"]
        )
        rows = [(i % 100, float(i)) for i in range(300)]
        eng.insert_into("db.li").dataframe(
            spark.createDataFrame(rows, schema=sch)).execute()
        seen = self._scans(eng)
        q = ("SELECT l.l_orderkey, l.l_qty FROM db.li l JOIN db.orders o "
             "ON l.l_orderkey = o.o_orderkey WHERE o.o_custkey = 3 "
             "AND o.o_totalprice < 40 ORDER BY l.l_qty")
        got = [tuple(r) for r in eng.sql(q).collect()]
        li_scans = [m for m in seen if m.table.endswith("/li")]
        assert any(m.pruned_files > 0 for m in li_scans), (
            [(m.scanned_files, m.pruned_files) for m in seen]
        )
        self._plain_views(spark, li=(rows, sch))
        plain = q.replace("db.li", "plain_li").replace("db.orders", "plain_orders")
        assert got == [tuple(r) for r in spark.sql(plain).collect()]

    def test_join_filter_pushdown_from_plain_temp_view(self, eng, spark):
        # table partitioned on the JOIN key so the IN set can prune
        sch = "l_orderkey BIGINT, l_qty DOUBLE"
        eng.catalog.create_table(
            "db.li2", sch, partition_spec=["bucket(4, l_orderkey)"]
        )
        eng.insert_into("db.li2").dataframe(spark.createDataFrame(
            [(i % 100, float(i)) for i in range(300)], schema=sch)).execute()
        spark.createDataFrame([(3,), (13,)], "k BIGINT") \
            .createOrReplaceTempView("filter_keys")
        seen = self._scans(eng)
        q = ("SELECT DISTINCT l.l_orderkey FROM db.li2 l JOIN filter_keys f "
             "ON l.l_orderkey = f.k ORDER BY l.l_orderkey")
        assert [r.l_orderkey for r in eng.sql(q).collect()] == [3, 13]
        assert any(m.pruned_files > 0 for m in seen)

    def test_join_filter_pushdown_skips_outer_joins(self, eng, spark):
        spark.createDataFrame([(3,)], "k BIGINT") \
            .createOrReplaceTempView("some_keys")
        seen = self._scans(eng)
        q = ("SELECT o.o_orderkey, k FROM db.orders o LEFT JOIN some_keys s "
             "ON o.o_orderkey = s.k WHERE o.o_custkey = 3 "
             "ORDER BY o.o_orderkey")
        rows = eng.sql(q).collect()
        # preserved-side rows without a match must survive
        assert [r.o_orderkey for r in rows] == [3, 13, 23, 33, 43, 53, 63, 73, 83, 93]
        assert [r.k for r in rows][0] == 3
        assert all(r.k is None for r in rows[1:])

    def test_anti_join_on_condition_never_prunes(self, eng, spark):
        """An anti join keeps the left rows its ON condition rejects, so a
        left-only ON conjunct must not prune the left table."""
        spark.createDataFrame([(3,), (13,)], "k BIGINT") \
            .createOrReplaceTempView("anti_keys")
        q = ("SELECT o.o_orderkey FROM db.orders o ANTI JOIN anti_keys a "
             "ON o.o_orderkey = a.k AND o.o_custkey = 3")
        got = sorted(r.o_orderkey for r in eng.sql(q).collect())
        assert got == [i for i in range(100) if i not in (3, 13)]

    def test_backslash_escape_literal_prunes_by_its_value(self, eng, spark):
        """Spark unescapes ``\\t`` in a string literal; the conjunct
        reaches the pushdown grammar with the unescaped value, so it
        prunes to the partition holding that value."""
        eng.catalog.create_table("db.esc", "id BIGINT, s STRING",
                                 partition_spec=["s"])
        eng.insert_into("db.esc").dataframe(spark.createDataFrame(
            [(1, "A\tB"), (2, "C")], "id BIGINT, s STRING")).execute()
        seen = self._scans(eng)
        q = "SELECT id FROM db.esc WHERE s = 'A\\tB'"
        assert [r.id for r in eng.sql(q).collect()] == [1]
        assert seen and seen[-1].pruned_files > 0

    def test_like_escape_pattern_is_not_a_prefix(self, eng, spark):
        """``\\`` escapes LIKE's wildcards: ``'a\\%'`` matches only
        ``a%``, so the conjunct is no prefix and prunes nothing away."""
        eng.catalog.create_table("db.lk", "id BIGINT, s STRING",
                                 partition_spec=["s"])
        eng.insert_into("db.lk").dataframe(spark.createDataFrame(
            [(1, "a%"), (2, "a\\x")], "id BIGINT, s STRING")).execute()
        q = "SELECT id FROM db.lk WHERE s LIKE 'a\\%'"
        assert [r.id for r in eng.sql(q).collect()] == [1]

    def test_sql_leaves_no_temp_views(self, eng, spark):
        """Each statement's relations are scoped to it: the session
        catalog does not grow with the number of distinct queries."""
        def temp_views():
            return sum(t.isTemporary for t in spark.catalog.listTables())

        before = temp_views()
        for i in range(20):
            eng.sql(f"SELECT count(*) FROM db.orders "
                    f"WHERE o_orderkey BETWEEN {i} AND {i + 50}").collect()
        assert temp_views() == before

    def test_resolved_query_keeps_its_snapshot(self, eng, spark):
        """A resolved statement reads the snapshot it was planned on,
        even after a commit and another caller resolving the same text."""
        q = "SELECT count(*) AS n FROM db.orders WHERE o_custkey = 3"
        sql, frames = eng.catalog.resolve_sql(q)
        t = eng.catalog.table("db.orders")
        eng.insert_into("db.orders").dataframe(spark.createDataFrame(
            [(100, 3, 1.0, dt.datetime(1996, 1, 1), "A")], schema=t.schema
        )).execute()
        eng.catalog.resolve_sql(q)
        assert spark.sql(sql, **frames).collect()[0]["n"] == 10
        assert eng.sql(q).collect()[0]["n"] == 11

    def test_braces_in_sql_text_survive(self, eng, spark, monkeypatch):
        q = ("SELECT '{x}' AS a, '}{' AS b, o_orderkey FROM db.orders "
             "WHERE o_orderkey = 3")
        assert [tuple(r) for r in eng.sql(q).collect()] == [("{x}", "}{", 3)]
        # without a lakehouse ref the text reaches spark.sql unchanged
        calls = []
        real = spark.sql
        monkeypatch.setattr(
            spark, "sql",
            lambda text, *a, **kw: calls.append((text, kw)) or real(text, *a, **kw),
        )
        plain = "SELECT '{x}' AS a, '}}' AS b"
        assert [tuple(r) for r in eng.sql(plain).collect()] == [("{x}", "}}")]
        assert [text for text, _ in calls] == [plain]

    def test_join_filter_pushdown_empty_dim_short_circuits(self, eng, spark):
        spark.createDataFrame([], "k BIGINT") \
            .createOrReplaceTempView("no_keys")
        q = ("SELECT o.o_orderkey FROM db.orders o JOIN no_keys n "
             "ON o.o_orderkey = n.k")
        assert eng.sql(q).count() == 0

    @pytest.mark.parametrize("q, args", [
        ("SELECT o_orderkey FROM db.orders -- custkey 3 only\n"
         "WHERE o_custkey = 3 AND o_orderkey < 20 ORDER BY o_orderkey", None),
        ("SELECT o_orderkey FROM db.orders /* custkey 3 only */ "
         "WHERE o_custkey = 3 AND o_orderkey < 20 ORDER BY o_orderkey", None),
        ("SELECT o_orderkey FROM db.orders "
         "WHERE o_custkey = 3 AND o_orderkey < :k ORDER BY o_orderkey", {"k": 20}),
        ("SELECT o_orderkey FROM `db`.`orders` "
         "WHERE o_custkey = 3 AND o_orderkey < 20 ORDER BY o_orderkey", None),
    ], ids=["line-comment", "block-comment", "parameter-marker", "backticks"])
    def test_comments_markers_and_quoted_names_prune(self, eng, q, args):
        seen = self._scans(eng)
        assert [r.o_orderkey for r in eng.sql(q, args).collect()] == [3, 13]
        assert seen and seen[-1].pruned_files > 0

    @pytest.mark.parametrize("head", ["EXPLAIN", "DESCRIBE QUERY"])
    def test_command_over_a_query_prunes(self, eng, head):
        """These commands hold their query in a field, not a child."""
        seen = self._scans(eng)
        eng.sql(f"{head} SELECT o_orderkey FROM db.orders WHERE o_custkey = 3").collect()
        assert seen and seen[-1].pruned_files > 0

    def test_time_travel_ref_still_prunes(self, eng, spark):
        seen = self._scans(eng)
        q = ("SELECT o_orderkey FROM db.orders$branch_main "
             "WHERE o_custkey = 3 AND o_orderkey < 20 ORDER BY o_orderkey")
        assert [r.o_orderkey for r in eng.sql(q).collect()] == [3, 13]
        assert seen[-1].pruned_files > 0

    @pytest.mark.parametrize("q", [
        "SELECT a.o_orderkey, b.o_totalprice FROM db.orders a JOIN db.orders b "
        "ON a.o_orderkey = b.o_orderkey WHERE b.o_custkey = 3",
        "SELECT o.o_orderkey, o.o_totalprice FROM db.orders o "
        "JOIN jf_keys f ON o.o_orderkey = f.k",
    ])
    def test_join_filter_pushdown_skips_keys_that_cannot_prune(self, eng, spark, q):
        """o_orderkey is neither a partition source (the spec buckets
        o_custkey) nor a sort column, so an IN set on it could prune no
        file: resolve_sql must not spend a Spark job collecting it."""
        spark.createDataFrame([(3,), (13,)], "k BIGINT") \
            .createOrReplaceTempView("jf_keys")
        sc = spark.sparkContext
        group = f"resolve-sql-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "resolve_sql")
        try:
            eng.catalog.resolve_sql(q)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert list(sc.statusTracker().getJobIdsForGroup(group)) == []
        got = sorted(tuple(r) for r in eng.sql(q).collect())
        assert got
        self._plain_views(spark)
        plain = q.replace("db.orders", "plain_orders")
        assert sorted(tuple(r) for r in spark.sql(plain).collect()) == got

    def test_resolve_sql_loads_each_table_metadata_once(self, eng, spark, monkeypatch):
        """Schema lookup, record count and scans of one base table share
        a single metadata load per resolve_sql call, so a query plans
        against one snapshot even if another handle commits meanwhile."""
        from collections import Counter

        from swiftlake_spark.tables import catalog as catalog_mod
        from swiftlake_spark.tables import metadata as metadata_mod

        sch = "l_orderkey BIGINT, l_qty DOUBLE"
        eng.catalog.create_table(
            "db.li3", sch, partition_spec=["bucket(4, l_orderkey)"]
        )
        eng.insert_into("db.li3").dataframe(spark.createDataFrame(
            [(i % 100, float(i)) for i in range(300)], schema=sch)).execute()

        calls = Counter()
        real = metadata_mod.load_metadata

        def counting(location):
            calls[os.path.basename(location)] += 1
            return real(location)

        monkeypatch.setattr(metadata_mod, "load_metadata", counting)
        monkeypatch.setattr(catalog_mod, "load_metadata", counting)
        seen = self._scans(eng)
        # li3's key collection runs (bucketed on l_orderkey), reading
        # orders' record count, and plans li3 once, with the IN set.
        # orders' own edge is skipped.
        eng.catalog.resolve_sql(
            "SELECT l.l_qty FROM db.li3 l JOIN db.orders o "
            "ON l.l_orderkey = o.o_orderkey WHERE l.l_qty < 50"
        )
        assert [m.table.rsplit("/", 1)[-1] for m in seen].count("li3") == 1
        assert calls == Counter({"li3": 1, "orders": 1})
        calls.clear()
        eng.catalog.resolve_sql(
            "SELECT a.o_orderkey FROM db.orders a JOIN db.orders b "
            "ON a.o_orderkey = b.o_orderkey WHERE a.o_custkey = 3"
        )
        assert calls == Counter({"orders": 1})
