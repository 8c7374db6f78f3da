"""SQL DML statements through engine.sql (dml/sqldml.py): UPDATE,
DELETE FROM, MERGE INTO parsed into the fluent builders.  Semantics are
the builders' (already pytest- and oracle-certified); these tests pin
the PARSE — grammar coverage, alias rewriting, ON-clause analysis
(keys / boundary / rejection), receipt shape, and the guardrails."""

import pytest

from swiftlake_spark.engine import SwiftLakeEngine
from swiftlake_spark.tables.metadata import ValidationError


@pytest.fixture()
def engine(spark, tmp_path):
    return SwiftLakeEngine(spark=spark, warehouse=str(tmp_path / "wh"))


def _key(t):
    return tuple((x is None, str(x)) for x in t)


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return sorted([tuple(r) for r in out.collect()], key=_key)


DDL = "id BIGINT, cat STRING, qty BIGINT, price DOUBLE"


def seed(engine, spark, name="db.m", data=None):
    engine.catalog.create_table(name, DDL)
    engine.insert_into(name).dataframe(
        spark.createDataFrame(
            data
            or [
                (1, "A", 10, 1.0),
                (2, "A", 20, 2.0),
                (3, "B", 30, 3.0),
                (4, "B", 40, 4.0),
            ],
            DDL,
        )
    ).execute()


def test_sql_update(engine, spark):
    seed(engine, spark)
    out = engine.sql("UPDATE db.m SET qty = qty * 2, cat = 'X' WHERE id >= 3")
    r = out.collect()[0]
    assert r.operation == "update" and r.snapshot_id is not None
    assert rows(engine.catalog.load("db.m"), "id", "cat", "qty") == [
        (1, "A", 10), (2, "A", 20), (3, "X", 60), (4, "X", 80),
    ]


def test_sql_update_without_where_updates_all(engine, spark):
    """Standard SQL: UPDATE with no WHERE touches every row."""
    seed(engine, spark)
    out = engine.sql("UPDATE db.m SET qty = 0")
    assert out.collect()[0].operation == "update"
    assert rows(engine.catalog.load("db.m"), "id", "qty") == [
        (1, 0), (2, 0), (3, 0), (4, 0),
    ]


def test_sql_delete_without_where_truncates(engine, spark):
    """Standard SQL: DELETE with no WHERE removes every row (and is a
    metadata-only commit — every file fully matches)."""
    seed(engine, spark)
    out = engine.sql("DELETE FROM db.m")
    assert out.collect()[0].operation == "delete"
    assert engine.catalog.load("db.m").count() == 0
    # the typed empty relation still reads with the full schema
    assert set(engine.catalog.load("db.m").columns) == {
        "id", "cat", "qty", "price"}


def test_sql_delete(engine, spark):
    seed(engine, spark)
    out = engine.sql("DELETE FROM db.m WHERE cat = 'B' AND qty > 30")
    assert out.collect()[0].operation == "delete"
    assert rows(engine.catalog.load("db.m"), "id") == [(1,), (2,), (3,)]


def test_sql_merge_full(engine, spark):
    seed(engine, spark)
    engine.catalog.create_table("db.src", DDL)
    engine.insert_into("db.src").dataframe(
        spark.createDataFrame(
            [(2, "A", 99, 9.9), (3, "B", 31, 3.1), (9, "C", 5, 0.5)], DDL
        )
    ).execute()
    out = engine.sql(
        """
        MERGE INTO db.m t USING db.src s
        ON t.id = s.id
        WHEN MATCHED AND s.cat = 'B' THEN DELETE
        WHEN MATCHED THEN UPDATE SET qty = t.qty + s.qty, price = s.price
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert out.collect()[0].operation == "merge"
    assert rows(engine.catalog.load("db.m"), "id", "qty", "price") == [
        (1, 10, 1.0),
        (2, 119, 9.9),
        (4, 40, 4.0),
        (9, 5, 0.5),
    ]


def test_sql_merge_subquery_source_and_insert_values(engine, spark):
    seed(engine, spark)
    engine.catalog.create_table("db.src2", "k BIGINT, amount BIGINT")
    engine.insert_into("db.src2").dataframe(
        spark.createDataFrame([(2, 7), (8, 80)], "k BIGINT, amount BIGINT")
    ).execute()
    engine.sql(
        """
        MERGE INTO db.m AS t
        USING (SELECT k, amount FROM db.src2 WHERE amount > 0) AS s
        ON t.id = s.k
        WHEN MATCHED THEN UPDATE SET qty = t.qty + s.amount
        WHEN NOT MATCHED THEN INSERT (id, cat, qty) VALUES (s.k, 'NEW', s.amount)
        """
    )
    got = rows(engine.catalog.load("db.m"), "id", "cat", "qty", "price")
    assert (2, "A", 27, 2.0) in got
    assert (8, "NEW", 80, None) in got
    assert len(got) == 5


def test_sql_merge_boundary_conjunct_prunes_not_filters_source(engine, spark):
    # ON t.id = s.id AND t.cat = 'A': target rows outside cat='A' never
    # match (id=3 survives), but an unmatched source row still inserts
    # even though its cat is 'B' — standard MERGE semantics.
    seed(engine, spark, data=[(1, "A", 10, 1.0), (3, "B", 30, 3.0)])
    engine.catalog.create_table("db.src3", DDL)
    engine.insert_into("db.src3").dataframe(
        spark.createDataFrame(
            [(1, "A", 11, 1.1), (3, "B", 99, 9.9), (7, "B", 7, 0.7)], DDL
        )
    ).execute()
    engine.sql(
        """
        MERGE INTO db.m t USING db.src3 s
        ON t.id = s.id AND t.cat = 'A'
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    got = rows(engine.catalog.load("db.m"), "id", "cat", "qty")
    assert (1, "A", 11) in got          # matched within boundary
    assert (3, "B", 30) in got          # outside boundary: untouched
    assert (3, "B", 99) in got          # source row for id=3 didn't match → inserted
    assert (7, "B", 7) in got           # plain insert
    assert len(got) == 4


def test_sql_merge_key_rename(engine, spark):
    seed(engine, spark, data=[(1, "A", 10, 1.0)])
    src = spark.createDataFrame([(1, 500)], "ident BIGINT, newqty BIGINT")
    src.createOrReplaceTempView("renames")
    engine.sql(
        """
        MERGE INTO db.m t USING renames s
        ON t.id = s.ident
        WHEN MATCHED THEN UPDATE SET qty = s.newqty
        """
    )
    assert rows(engine.catalog.load("db.m"), "id", "qty") == [(1, 500)]


def test_sql_merge_rejects_unsupported_on(engine, spark):
    seed(engine, spark)
    engine.catalog.create_table("db.src4", DDL)
    # bare identifier of unknown provenance — guessing a side would
    # silently change NOT-MATCHED classification
    with pytest.raises(ValidationError, match="unsupported ON conjunct"):
        engine.sql(
            "MERGE INTO db.m t USING db.src4 s ON t.id = s.id AND qty > 5 "
            "WHEN MATCHED THEN DELETE"
        )
    with pytest.raises(ValidationError, match="key equality"):
        engine.sql(
            "MERGE INTO db.m t USING db.src4 s ON t.cat = 'A' "
            "WHEN MATCHED THEN DELETE"
        )


def test_sql_dml_rejects_params_and_commented_out_predicate_stays_dead(engine, spark):
    seed(engine, spark)
    with pytest.raises(ValidationError, match="parameter markers"):
        engine.sql("UPDATE db.m SET qty = 0 WHERE id = :id", args={"id": 1})
    # Spark's lexer drops the comment: the commented-out OR never joins
    # the condition
    engine.sql("DELETE FROM db.m WHERE id = 2 -- OR id = 1")
    assert rows(engine.catalog.load("db.m"), "id") == [(1,), (3,), (4,)]


def test_sql_select_still_works_and_literal_keyword_safe(engine, spark):
    seed(engine, spark)
    # a SELECT whose literal contains 'UPDATE' must not route to DML
    df = engine.sql("SELECT COUNT(*) AS n FROM db.m WHERE cat <> 'UPDATE x'")
    assert df.collect()[0].n == 4


def test_sql_insert_select_and_values(engine, spark):
    seed(engine, spark, name="db.i")
    engine.catalog.create_table("db.i2", DDL)
    engine.sql("INSERT INTO db.i2 SELECT id, cat, qty, price FROM db.i WHERE id <= 2")
    assert rows(engine.catalog.load("db.i2"), "id") == [(1,), (2,)]
    out = engine.sql("INSERT INTO db.i2 VALUES (9, 'Z', 90, 9.5), (10, 'Z', 100, 10.5)")
    assert out.collect()[0].operation == "insert"
    assert sorted(
        rows(engine.catalog.load("db.i2"), "id", "cat", "qty", "price")
    ) == [
        (1, "A", 10, 1.0), (2, "A", 20, 2.0), (9, "Z", 90, 9.5), (10, "Z", 100, 10.5),
    ]


def test_sql_insert_column_list_null_fills(engine, spark):
    engine.catalog.create_table("db.i3", DDL)
    engine.sql("INSERT INTO db.i3 (id, qty) VALUES (5, 50)")
    assert rows(engine.catalog.load("db.i3"), "id", "cat", "qty", "price") == [
        (5, None, 50, None),
    ]
    # positional mapping for SELECT sources too
    engine.sql("INSERT INTO db.i3 (id, cat) SELECT 6, 'C'")
    got = rows(engine.catalog.load("db.i3"), "id", "cat", "qty")
    assert (6, "C", None) in got


def test_sql_insert_count_mismatch(engine, spark):
    engine.catalog.create_table("db.i4", DDL)
    with pytest.raises(ValidationError, match="count mismatch"):
        engine.sql("INSERT INTO db.i4 (id, qty) SELECT 1, 2, 3")


# ------------------------------------------- round-9 review regressions


def test_sql_merge_case_expression_in_set_and_condition(engine, spark):
    # a CASE expression's WHEN/THEN must not terminate the MERGE clause
    # scan, and its internal ANDs must not split the clause condition
    seed(engine, spark, name="db.mc")
    src = spark.createDataFrame([(1, "A", 5, 0.5), (9, "Z", 90, 9.0)], DDL)
    src.createOrReplaceTempView("mc_src")
    engine.sql(
        "MERGE INTO db.mc t USING mc_src s ON t.id = s.id "
        "WHEN MATCHED AND CASE WHEN s.qty > 0 AND s.qty < 100 THEN 1 "
        "ELSE 0 END = 1 THEN UPDATE SET "
        "qty = CASE WHEN s.qty > 3 THEN s.qty ELSE 0 END "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = rows(engine.catalog.load("db.mc"), "id", "qty")
    assert (1, 5) in got        # matched, CASE condition fired, SET via CASE
    assert (9, 90) in got       # inserted


def test_sql_merge_between_boundary(engine, spark):
    # BETWEEN's AND must not split the ON conjunct; target-only BETWEEN
    # is a supported boundary predicate
    seed(engine, spark, name="db.mb")
    src = spark.createDataFrame([(2, "A", 200, 2.2), (3, "B", 300, 3.3)], DDL)
    src.createOrReplaceTempView("mb_src")
    engine.sql(
        "MERGE INTO db.mb t USING mb_src s ON t.id = s.id "
        "AND t.qty BETWEEN 15 AND 35 "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT *"
    )
    got = rows(engine.catalog.load("db.mb"), "id", "qty")
    # ids 2 (qty 20) and 3 (qty 30) are inside the boundary and update;
    # rows outside the boundary are untouched
    assert got == [(1, 10), (2, 200), (3, 300), (4, 40)]


def test_sql_insert_duplicate_columns_rejected(engine, spark):
    engine.catalog.create_table("db.idup", DDL)
    with pytest.raises(ValidationError, match="duplicate INSERT columns"):
        engine.sql("INSERT INTO db.idup (id, id) VALUES (1, 2)")


def test_sql_dml_non_lakehouse_target_passes_through(engine, spark):
    # DML whose target is NOT a lakehouse table must reach spark.sql
    # unchanged (Spark-native tables / temp views keep working)
    spark.sql("DROP TABLE IF EXISTS native_dml_t")
    spark.sql("CREATE TABLE native_dml_t (id BIGINT) USING parquet")
    try:
        engine.sql("INSERT INTO native_dml_t VALUES (7)")
        assert [r.id for r in engine.sql("SELECT id FROM native_dml_t").collect()] == [7]
    finally:
        spark.sql("DROP TABLE IF EXISTS native_dml_t")


def test_sql_update_column_named_end_still_parses(engine, spark):
    # identifier-aware CASE/END tracking: a column literally named `end`
    # must not desync the clause scanner
    engine.catalog.create_table("db.e9", "id BIGINT, end BIGINT")
    engine.insert_into("db.e9").dataframe(
        spark.createDataFrame([(1, 5), (2, 50)], "id BIGINT, end BIGINT")
    ).execute()
    engine.sql("UPDATE db.e9 SET end = 0 WHERE end > 10 AND id = 2")
    assert rows(engine.catalog.load("db.e9"), "id", "end") == [(1, 5), (2, 0)]


# --------------------------------------------------------- textual DDL


def test_sql_create_table_plain_and_drop(engine, spark):
    seed(engine, spark, name="db.anchor")  # db must pre-exist for routing
    out = engine.sql(
        "CREATE TABLE db.c1 (id BIGINT, cat STRING, qty BIGINT) "
        "PARTITIONED BY (cat) SORTED BY (id)"
    )
    assert out.collect()[0].operation == "create"
    engine.sql("INSERT INTO db.c1 VALUES (1, 'A', 10), (2, 'B', 20)")
    assert rows(engine.catalog.load("db.c1"), "id", "cat") == [(1, "A"), (2, "B")]
    meta = engine.catalog.table("db.c1").meta
    assert [d["source"] for d in meta.partition_spec] == ["cat"]
    # IF NOT EXISTS is a no-op on an existing table; bare CREATE errors
    engine.sql("CREATE TABLE IF NOT EXISTS db.c1 (id BIGINT)")
    with pytest.raises(ValidationError, match="already exists"):
        engine.sql("CREATE TABLE db.c1 (id BIGINT)")
    engine.sql("DROP TABLE db.c1")
    assert not engine.catalog.table_exists("db.c1")
    # once the lakehouse table is gone the name no longer routes here —
    # DROP falls through to spark.sql (it could be a Spark table), so
    # IF EXISTS is a Spark no-op and the bare form is Spark's error
    engine.sql("DROP TABLE IF EXISTS db.c1")
    with pytest.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|not found"):
        engine.sql("DROP TABLE db.c1")


def test_sql_ctas_with_partitioning(engine, spark):
    seed(engine, spark, name="db.src9")
    out = engine.sql(
        "CREATE TABLE db.ct PARTITIONED BY (cat) "
        "AS SELECT id, cat, qty * 2 AS qty2 FROM db.src9 WHERE id <= 3"
    )
    r = out.collect()[0]
    assert r.operation == "create" and r.snapshot_id is not None
    assert rows(engine.catalog.load("db.ct"), "id", "qty2") == [
        (1, 20), (2, 40), (3, 60),
    ]


def test_sql_create_spark_native_passthrough(engine, spark):
    # CREATE with USING, or into a db with no lakehouse tables, must
    # reach spark.sql untouched
    spark.sql("DROP TABLE IF EXISTS native_c9")
    engine.sql("CREATE TABLE native_c9 (id BIGINT) USING parquet")
    try:
        assert spark.catalog.tableExists("native_c9")
    finally:
        spark.sql("DROP TABLE IF EXISTS native_c9")


def test_sql_alter_table_add_rename_widen_drop(engine, spark):
    seed(engine, spark, name="db.alt")
    engine.sql("ALTER TABLE db.alt ADD COLUMNS (note STRING, score DOUBLE)")
    engine.sql("INSERT INTO db.alt (id, cat, note) VALUES (9, 'C', 'hi')")
    got = rows(engine.catalog.load("db.alt"), "id", "note", "score")
    assert (9, "hi", None) in got and (1, None, None) in got  # old rows NULL-fill
    engine.sql("ALTER TABLE db.alt RENAME COLUMN note TO remark")
    assert (9, "hi") in rows(engine.catalog.load("db.alt"), "id", "remark")
    # decimal precision widening (Iceberg rule: precision grows, scale
    # frozen) over a file written at the OLD precision
    engine.sql("ALTER TABLE db.alt ADD COLUMN amt DECIMAL(10,2)")
    engine.sql("INSERT INTO db.alt (id, cat, amt) VALUES (20, 'D', 12.34)")
    engine.sql("ALTER TABLE db.alt ALTER COLUMN amt TYPE DECIMAL(20, 2)")
    assert dict(engine.catalog.load("db.alt").dtypes)["amt"] == "decimal(20,2)"
    from decimal import Decimal

    assert (20, Decimal("12.34")) in rows(engine.catalog.load("db.alt"), "id", "amt")
    with pytest.raises(ValidationError, match="cannot widen"):
        engine.sql("ALTER TABLE db.alt ALTER COLUMN amt TYPE DECIMAL(20,4)")
    engine.sql("ALTER TABLE db.alt DROP COLUMN remark")
    assert "remark" not in engine.catalog.load("db.alt").columns
    # nested add through SQL (evolution's dotted-path API)
    engine.sql("ALTER TABLE db.alt ADD COLUMN payload STRUCT<a: BIGINT>")
    engine.sql("ALTER TABLE db.alt ADD COLUMN payload.b DOUBLE")
    assert dict(engine.catalog.load("db.alt").dtypes)["payload"] == "struct<a:bigint,b:double>"


def test_sql_alter_non_lakehouse_passthrough(engine, spark):
    # ALTER on a non-lakehouse name must reach spark.sql (here: a temp
    # view, so Spark raises its own error — not our ValidationError)
    spark.range(3).createOrReplaceTempView("alt_view")
    with pytest.raises(Exception) as ei:
        engine.sql("ALTER TABLE alt_view ADD COLUMN x BIGINT")
    assert not isinstance(ei.value, ValidationError)


# --------------------------------------------- second review regressions


def test_sql_ctas_with_join_using_still_routes(engine, spark):
    # JOIN ... USING inside the AS query must NOT read as a provider
    # clause: the CTAS still creates a LAKEHOUSE table
    seed(engine, spark, name="db.ju1")
    seed(engine, spark, name="db.ju2")
    engine.sql(
        "CREATE TABLE db.ju3 AS "
        "SELECT a.id, a.qty FROM db.ju1 a JOIN db.ju2 b USING (id) "
        "WHERE a.id <= 2"
    )
    assert engine.catalog.table_exists("db.ju3")
    assert rows(engine.catalog.load("db.ju3"), "id") == [(1,), (2,)]


def test_sql_create_struct_colon_column(engine, spark):
    seed(engine, spark, name="db.sc_anchor")
    engine.sql(
        "CREATE TABLE db.sc1 (id BIGINT, payload STRUCT<a: BIGINT, b: STRING>)"
    )
    assert dict(engine.catalog.load("db.sc1").dtypes)["payload"] == (
        "struct<a:bigint,b:string>"
    )


def test_sql_alter_add_columns_is_atomic(engine, spark):
    seed(engine, spark, name="db.at1")
    with pytest.raises(ValidationError):
        # second item collides with an existing column: NOTHING commits
        engine.sql("ALTER TABLE db.at1 ADD COLUMNS (brand_new STRING, qty BIGINT)")
    assert "brand_new" not in engine.catalog.load("db.at1").columns
    with pytest.raises(ValidationError, match="bad type"):
        engine.sql("ALTER TABLE db.at1 ADD COLUMNS (ok1 STRING, bad NOTATYPE)")
    assert "ok1" not in engine.catalog.load("db.at1").columns


def test_sql_alter_plural_noun_rejected_outside_add(engine, spark):
    seed(engine, spark, name="db.pl1")
    with pytest.raises(ValidationError, match="COLUMN .singular"):
        engine.sql("ALTER TABLE db.pl1 DROP COLUMNS qty")


def test_sql_merge_on_unknown_source_column_clear_error(engine, spark):
    seed(engine, spark, name="db.mm1")
    spark.createDataFrame([(1, 5)], "kk BIGINT, amount BIGINT").createOrReplaceTempView(
        "mm_src"
    )
    with pytest.raises(ValidationError, match="no column 'zz'"):
        engine.sql(
            "MERGE INTO db.mm1 t USING mm_src s ON t.id = s.zz "
            "WHEN MATCHED THEN DELETE"
        )


# -- WHEN NOT MATCHED BY SOURCE through SQL (SQL:2016) ---------------------


def test_sql_merge_not_matched_by_source(engine, spark):
    seed(engine, spark)
    spark.createDataFrame(
        [(2, "A", 99, 9.9), (9, "C", 5, 0.5)], DDL
    ).createOrReplaceTempView("sync_src")
    out = engine.sql(
        """
        MERGE INTO db.m t USING sync_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        WHEN NOT MATCHED BY SOURCE AND t.cat = 'B' THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET cat = 'STALE'
        """
    )
    assert out.collect()[0].operation == "merge"
    assert rows(engine.catalog.load("db.m"), "id", "cat", "qty") == [
        (1, "STALE", 10),  # A row absent from source: flagged
        (2, "A", 99),      # matched: updated
        (9, "C", 5),       # inserted
    ]  # 3, 4 (cat B, unmatched) deleted


def test_sql_merge_by_source_rejects_source_refs(engine, spark):
    seed(engine, spark)
    spark.createDataFrame([(1, "A", 0, 0.0)], DDL).createOrReplaceTempView("s2")
    with pytest.raises(ValidationError, match="source"):
        engine.sql(
            """
            MERGE INTO db.m t USING s2 s ON t.id = s.id
            WHEN NOT MATCHED BY SOURCE THEN UPDATE SET qty = s.qty
            """
        )


def test_sql_merge_by_source_requires_not(engine, spark):
    from pyspark.errors import ParseException

    seed(engine, spark)
    spark.createDataFrame([(1, "A", 0, 0.0)], DDL).createOrReplaceTempView("s3")
    before = rows(engine.catalog.load("db.m"))
    # Spark's grammar has no WHEN MATCHED BY SOURCE: a syntax error at BY
    with pytest.raises(ParseException, match="PARSE_SYNTAX_ERROR"):
        engine.sql(
            """
            MERGE INTO db.m t USING s3 s ON t.id = s.id
            WHEN MATCHED BY SOURCE THEN DELETE
            """
        )
    assert rows(engine.catalog.load("db.m")) == before


def test_sql_merge_null_rejecting_equals(engine, spark):
    # ADVICE r9 (medium): SQL '=' must be null-rejecting — a NULL-keyed
    # source row inserts (standard) instead of matching a NULL-keyed
    # target row (the builder's eqNullSafe default)
    seed(engine, spark, data=[(None, "A", 1, 1.0), (5, "A", 5, 5.0)])
    spark.createDataFrame(
        [(None, "B", 100, 2.0), (5, "A", 50, 5.0)], DDL
    ).createOrReplaceTempView("null_src")
    engine.sql(
        """
        MERGE INTO db.m t USING null_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    assert rows(engine.catalog.load("db.m"), "id", "cat", "qty") == [
        (5, "A", 50),      # matched: updated
        (None, "A", 1),    # target NULL key: untouched (no match)
        (None, "B", 100),  # source NULL key: inserted, not matched
    ]


# -- ADVICE r9 routing/atomicity fixes -------------------------------------


def test_ddl_create_does_not_hijack_spark_database(engine, spark):
    # a provider-less CREATE into a Spark database that holds PERMANENT
    # tables passes through to spark.sql even when a same-named
    # lakehouse db exists (ADVICE r9, refined in the r10 review: the
    # veto needs real Spark-side evidence — an exact-name table or a
    # populated database — because 'default' always exists and a bare
    # name collision must not override positive lakehouse evidence)
    engine.catalog.create_table("hij.t0", "id BIGINT")
    spark.sql("CREATE DATABASE IF NOT EXISTS hij")
    spark.sql("CREATE TABLE hij.existing (x INT) USING parquet")
    try:
        engine.sql("CREATE TABLE hij.native (id BIGINT, v STRING)")
        # went to the Spark catalog, not the lakehouse
        assert not engine.catalog.table_exists("hij.native")
        assert spark.catalog.tableExists("hij.native")
    finally:
        spark.sql("DROP DATABASE IF EXISTS hij CASCADE")


def test_ddl_create_empty_spark_db_does_not_veto(engine, spark):
    # the flip side ('default' scenario): an EMPTY same-named Spark
    # database is not evidence of a Spark workload — positive lakehouse
    # evidence wins and the provider-less CREATE routes to the lakehouse
    engine.catalog.create_table("hij2.t0", "id BIGINT")
    spark.sql("CREATE DATABASE IF NOT EXISTS hij2")
    try:
        engine.sql("CREATE TABLE hij2.ours (id BIGINT)")
        assert engine.catalog.table_exists("hij2.ours")
        assert not spark.catalog.tableExists("hij2.ours")
    finally:
        spark.sql("DROP DATABASE IF EXISTS hij2 CASCADE")


def test_ctas_failure_leaves_no_table(engine, spark):
    seed(engine, spark)
    with pytest.raises(Exception):
        # analyzes fine, fails at execution: division is fine in ANSI off?
        # use a UDF-free guaranteed executor failure: cast invalid via
        # raise_error, which analyzes but throws at runtime
        engine.sql(
            "CREATE TABLE db.ctas_fail AS "
            "SELECT id, raise_error('boom') AS x FROM db.m"
        )
    assert not engine.catalog.table_exists("db.ctas_fail")
    # retry with a good query now succeeds (no "already exists")
    engine.sql("CREATE TABLE db.ctas_fail AS SELECT id FROM db.m")
    assert engine.catalog.table_exists("db.ctas_fail")


def test_ddl_rejects_parameter_markers(engine, spark):
    seed(engine, spark)
    with pytest.raises(ValidationError, match="parameter markers"):
        engine.sql(
            "CREATE TABLE db.p AS SELECT * FROM db.m WHERE id = ?", args=[1]
        )


def test_sql_merge_boundary_literal_containing_alias_text(engine, spark):
    # token-exact qualifier strip (_strip_qualifier): a string literal
    # inside the boundary conjunct that CONTAINS the alias-dot text must
    # survive untouched (the old sentinel splice operated on rebuilt text)
    seed(engine, spark)
    spark.createDataFrame([(1, "A", 5, 5.0)], DDL).createOrReplaceTempView("lit_src")
    engine.sql(
        """
        MERGE INTO db.m t USING lit_src s
        ON t.id = s.id AND t.cat = 'not t.cat literally'
        WHEN MATCHED THEN UPDATE SET qty = s.qty
        WHEN NOT MATCHED THEN INSERT *
        """
    )
    # no target row carries that cat, so target id=1 is not a candidate
    # (boundary false -> never matches) and the source row inserts per
    # standard target-only-conjunct semantics; a corrupted literal would
    # have failed the parse or produced a different classification
    out = rows(engine.catalog.load("db.m"), "id", "qty")
    assert (1, 10) in out and (1, 5) in out  # original + inserted copy


def test_sql_merge_source_residual_gates_match(engine, spark):
    """ON source-side residual (r10): a pair failing it does not match —
    the source row stays insert-eligible, the target row walks NOT
    MATCHED BY SOURCE.  Standard SQL MERGE semantics."""
    seed(engine, spark)
    engine.catalog.create_table("db.srcr", DDL)
    engine.insert_into("db.srcr").dataframe(spark.createDataFrame(
        [(1, "A", 100, 1.0),   # matches id 1, qty > 50 → UPDATE fires
         (2, "A", 5, 2.0),     # id 2 exists but qty ≤ 50 → no match:
                               # source row INSERTS, target row BY SOURCE
         (9, "Z", 99, 9.0)],   # no target id 9 → INSERT
        DDL)).execute()
    engine.sql(
        "MERGE INTO db.m t USING db.srcr s "
        "ON t.id = s.id AND s.qty > 50 "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty "
        "WHEN NOT MATCHED THEN INSERT (id, cat, qty, price) "
        "VALUES (s.id + 100, s.cat, s.qty, s.price) "
        "WHEN NOT MATCHED BY SOURCE AND t.id = 2 THEN UPDATE SET cat = 'NMS'"
    )
    got = set(rows(engine.catalog.load("db.m"), "id", "cat", "qty"))
    assert got == {
        (1, "A", 100),     # matched update
        (2, "NMS", 20),    # residual-failed → by-source clause fired
        (3, "B", 30), (4, "B", 40),
        (102, "A", 5),     # residual-failed source row inserted
        (109, "Z", 99),    # never-matched source row inserted
    }


def test_sql_merge_mixed_residual_and_function(engine, spark):
    """Mixed target/source residual with a function call."""
    seed(engine, spark)
    engine.catalog.create_table("db.srcm", DDL)
    engine.insert_into("db.srcm").dataframe(spark.createDataFrame(
        [(3, "b", 1, 0.0), (4, "x", 1, 0.0)], DDL)).execute()
    # match only when categories agree case-insensitively: id 3 ('B' vs
    # 'b') matches; id 4 ('B' vs 'x') does not
    engine.sql(
        "MERGE INTO db.m t USING db.srcm s "
        "ON t.id = s.id AND upper(t.cat) = upper(s.cat) "
        "WHEN MATCHED THEN DELETE"
    )
    assert rows(engine.catalog.load("db.m"), "id") == [(1,), (2,), (4,)]


def test_merge_builder_match_condition(engine, spark):
    """Builder-level match_condition: same semantics, no SQL text."""
    seed(engine, spark)
    src = spark.createDataFrame([(1, "A", 7, 0.0), (2, "A", 99, 0.0)], DDL)
    engine.merge_into("db.m").using(src).key_columns(["id"]) \
        .match_condition("source.qty > 50").unbounded() \
        .when_matched_update({"qty": "source.qty"}) \
        .execute()
    got = rows(engine.catalog.load("db.m"), "id", "qty")
    assert got == [(1, 10), (2, 99), (3, 30), (4, 40)]


def test_sql_create_using_swiftlake_first_table_of_new_db(engine, spark):
    """USING swiftlake routes unconditionally — the FIRST table of a
    brand-new database can be created textually (r9 missing #2)."""
    out = engine.sql(
        "CREATE TABLE freshdb.first (id BIGINT, v STRING) USING swiftlake")
    assert out.collect()[0].operation == "create"
    assert engine.catalog.table_exists("freshdb.first")
    engine.sql("INSERT INTO freshdb.first VALUES (1, 'x')")
    assert engine.catalog.load("freshdb.first").count() == 1
    # CTAS form too, with partitioning after the marker
    engine.sql(
        "CREATE TABLE freshdb2.c USING swiftlake PARTITIONED BY (v) "
        "AS SELECT * FROM freshdb.first")
    assert engine.catalog.load("freshdb2.c").count() == 1
    # other providers still pass through to Spark (and fail there if
    # unsupported) rather than being claimed by the lakehouse
    from swiftlake_spark.dml.sqldml import ddl_route
    assert not ddl_route(engine, "CREATE TABLE freshdb.x (id INT) USING parquet")


def test_sql_merge_by_target_synonym(engine, spark):
    """SQL:2016: WHEN NOT MATCHED [BY TARGET] — the explicit spelling
    of the default insert clause."""
    seed(engine, spark, data=[(1, "A", 10, 1.0)])
    engine.catalog.create_table("db.srct", DDL)
    engine.insert_into("db.srct").dataframe(spark.createDataFrame(
        [(1, "A", 99, 0.0), (5, "N", 50, 5.0)], DDL)).execute()
    engine.sql(
        "MERGE INTO db.m t USING db.srct s ON t.id = s.id "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty "
        "WHEN NOT MATCHED BY TARGET THEN INSERT *"
    )
    assert rows(engine.catalog.load("db.m"), "id", "qty") == [(1, 99), (5, 50)]
    from pyspark.errors import ParseException

    # BY TARGET only follows NOT MATCHED: a syntax error at BY
    with pytest.raises(ParseException, match="PARSE_SYNTAX_ERROR"):
        engine.sql(
            "MERGE INTO db.m t USING db.srct s ON t.id = s.id "
            "WHEN MATCHED BY TARGET THEN DELETE"
        )
    assert rows(engine.catalog.load("db.m"), "id", "qty") == [(1, 99), (5, 50)]


def test_sql_merge_boundary_scopes_by_source_known_delta(engine, spark):
    """README 'Known deltas': a target-only ON conjunct SCOPES the
    merge — out-of-boundary target rows do not walk NOT MATCHED BY
    SOURCE (Spark SQL >=3.4 would fire the clause on them).  The
    boundary is what keeps the rewrite manifest-pruned; the standard
    behavior is available by moving the predicate into the clause
    condition with an unscoped ON."""
    seed(engine, spark, data=[(1, "A", 10, 1.0), (3, "B", 30, 3.0)])
    engine.catalog.create_table("db.srcbs", DDL)
    engine.insert_into("db.srcbs").dataframe(spark.createDataFrame(
        [(1, "A", 99, 0.0)], DDL)).execute()
    engine.sql(
        "MERGE INTO db.m t USING db.srcbs s "
        "ON t.id = s.id AND t.cat = 'A' "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty "
        "WHEN NOT MATCHED BY SOURCE THEN DELETE"
    )
    got = rows(engine.catalog.load("db.m"), "id", "cat", "qty")
    # id=3 is outside the cat='A' boundary: under the engine's scoping
    # contract it SURVIVES; Spark SQL's standard semantics would have
    # deleted it (unmatched by source).  If this assertion starts
    # failing the contract changed — update the README entry with it.
    assert got == [(1, "A", 99), (3, "B", 30)]
    # the standard shape, spelled the supported way: unscoped ON with
    # the predicate on the clause — now id=3 IS deleted
    engine.sql(
        "MERGE INTO db.m t USING db.srcbs s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND t.cat = 'B' THEN DELETE"
    )
    assert rows(engine.catalog.load("db.m"), "id") == [(1,)]


def test_sql_merge_top_level_or_rejected(engine, spark):
    """r10 review: a top-level OR binds looser than the ANDs the ON
    analysis splits on — accepting it would regroup the condition
    against SQL precedence.  Reject loudly; parenthesized ORs inside a
    conjunct still work as residuals."""
    seed(engine, spark)
    engine.catalog.create_table("db.srco", DDL)
    engine.insert_into("db.srco").dataframe(spark.createDataFrame(
        [(1, "A", 99, 0.0), (5, "B", 5, 0.0)], DDL)).execute()
    with pytest.raises(ValidationError, match="top-level OR"):
        engine.sql(
            "MERGE INTO db.m t USING db.srco s "
            "ON t.id = s.id AND s.qty > 5 OR s.cat = 'B' "
            "WHEN MATCHED THEN DELETE"
        )
    # the parenthesized spelling is a supported residual
    engine.sql(
        "MERGE INTO db.m t USING db.srco s "
        "ON t.id = s.id AND (s.qty > 50 OR s.cat = 'B') "
        "WHEN MATCHED THEN UPDATE SET qty = s.qty"
    )
    assert rows(engine.catalog.load("db.m"), "id", "qty") == [
        (1, 99), (2, 20), (3, 30), (4, 40)]


# -- the grammar is Spark's parser ------------------------------------------


def test_sql_backslash_escape_literal_matches_its_value(engine, spark):
    """Spark unescapes ``'A\\tB'`` to A<tab>B; the condition handed to
    the pushdown grammar carries that value, not the escape text."""
    engine.catalog.create_table("db.m", "id BIGINT, s STRING, qty BIGINT")
    engine.insert_into("db.m").dataframe(spark.createDataFrame(
        [(1, "A\tB", 10), (2, "C", 20)], "id BIGINT, s STRING, qty BIGINT"
    )).execute()
    engine.sql("UPDATE db.m SET qty = 0 WHERE s = 'A\\tB'")
    assert rows(engine.catalog.load("db.m"), "id", "qty") == [(1, 0), (2, 20)]
    engine.sql("DELETE FROM db.m WHERE s = 'A\\tB'")
    assert rows(engine.catalog.load("db.m"), "id") == [(2,)]


@pytest.mark.parametrize("stmt, want", [
    ("DELETE FROM db.m WHERE id = 2 /* OR id = 1 */",
     [(1, 10), (3, 30), (4, 40)]),
    ("UPDATE `db`.`m` SET `qty` = 0 WHERE id = 2",
     [(1, 10), (2, 0), (3, 30), (4, 40)]),
    ("UPDATE db.m AS x SET qty = 0 WHERE x.id = 2",
     [(1, 10), (2, 0), (3, 30), (4, 40)]),
    ("MERGE INTO db.m t USING mrg_src s ON t.id = s.id -- keys\n"
     "WHEN MATCHED THEN UPDATE SET qty = s.qty -- overwrite\n"
     "-- new ids\n"
     "WHEN NOT MATCHED THEN INSERT *",
     [(1, 10), (2, 99), (3, 30), (4, 40), (9, 5)]),
], ids=["block-comment", "backticks", "update-alias", "merge-comments"])
def test_sql_dml_spark_grammar_forms(engine, spark, stmt, want):
    seed(engine, spark)
    spark.createDataFrame(
        [(2, "A", 99, 9.9), (9, "C", 5, 0.5)], DDL
    ).createOrReplaceTempView("mrg_src")
    assert engine.sql(stmt).collect()[0].snapshot_id is not None
    assert rows(engine.catalog.load("db.m"), "id", "qty") == want


@pytest.mark.parametrize("stmt, match", [
    ("INSERT OVERWRITE db.m SELECT * FROM db.m WHERE id = 1",
     r"engine\.insert_overwrite"),
    ("INSERT INTO db.m PARTITION (cat = 'A') SELECT 9, 9, 9.0",
     r"engine\.insert_overwrite"),
    ("INSERT INTO db.m BY NAME SELECT 9 AS id", r"engine\.insert_into"),
    ("INSERT INTO db.m REPLACE WHERE id = 1 SELECT * FROM db.m",
     r"engine\.insert_overwrite"),
    ("MERGE INTO db.m t USING db.m s ON t.id = s.id "
     "WHEN MATCHED THEN UPDATE SET *", r"UPDATE SET \*"),
    ("MERGE WITH SCHEMA EVOLUTION INTO db.m t USING db.m s ON t.id = s.id "
     "WHEN MATCHED THEN DELETE", r"engine\.merge_into"),
    # a marker in an inline VALUES row, without args, is found too
    ("INSERT INTO db.m VALUES (:p, 'A', 1, 1.0)", "parameter markers"),
    ("INSERT INTO db.m VALUES (9, 'A', 1, 1.0), (?, 'B', 2, 2.0)",
     "parameter markers"),
], ids=["overwrite", "partition", "by-name", "replace-where", "update-star",
        "schema-evolution", "values-named-marker", "values-positional-marker"])
def test_sql_dml_forms_the_builders_own_are_rejected(engine, spark, stmt, match):
    seed(engine, spark)
    before = rows(engine.catalog.load("db.m"))
    with pytest.raises(ValidationError, match=match):
        engine.sql(stmt)
    assert rows(engine.catalog.load("db.m")) == before


def test_sql_dml_like_escape_is_not_a_prefix(engine, spark):
    """``\\`` escapes LIKE's wildcards, so ``'a\\%'`` matches only ``a%``:
    the pushdown grammar refuses it rather than read it as the prefix
    ``a\\``, and no row changes."""
    seed(engine, spark, data=[(1, "a%", 10, 1.0), (2, "a\\x", 20, 2.0)])
    with pytest.raises(ValueError, match="prefix%"):
        engine.sql("DELETE FROM db.m WHERE cat LIKE 'a\\%'")
    assert rows(engine.catalog.load("db.m"), "id") == [(1,), (2,)]


@pytest.mark.parametrize("stmt", [
    "SELECT count(*) FROM db.m WHERE cat = 'A'",
    "UPDATE db.m SET qty = 0 WHERE id = 2",
    "DELETE FROM db.m WHERE id = 2",
])
def test_sql_parses_each_statement_once(engine, spark, monkeypatch, stmt):
    """Routing and table resolution share one parse of the statement."""
    from swiftlake_spark.tables import sqlextract

    seed(engine, spark)
    calls = []
    real = sqlextract.parse
    monkeypatch.setattr(sqlextract, "parse",
                        lambda *a: calls.append(a[1]) or real(*a))
    engine.sql(stmt).collect()
    assert calls == [stmt]
