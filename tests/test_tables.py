"""Table-format integration tests: create → append → scan roundtrip,
partition transforms + pruning, time travel, branches/tags, strict
overwrite, copy-on-write update/delete (file-granular, §2.C.8), commit
conflicts.  Mirrors the reference's integration-test strategy
(SwiftLakeEngineIntegrationTest.java:73-160 setup + exact row asserts)."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from swiftlake_spark.tables import expressions as E
from swiftlake_spark.tables.metadata import ValidationError


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return sorted([tuple(r) for r in out.collect()])


@pytest.fixture()
def simple_table(catalog, spark):
    t = catalog.create_table(
        "db.simple",
        "id BIGINT, name STRING, category STRING, value DOUBLE",
        sort_order=["id ASC"],
    )
    df = spark.createDataFrame(
        [
            (1, "a", "X", 1.5),
            (2, "b", "X", 2.5),
            (3, "c", "Y", 3.5),
            (4, "d", "Y", None),
            (5, None, None, 5.5),
        ],
        schema=t.schema,
    )
    t.append(df)
    return t


def test_roundtrip_and_filter(simple_table):
    t = simple_table
    assert rows(t.scan(), "id") == [(1,), (2,), (3,), (4,), (5,)]
    got = rows(t.scan(E.col_eq("category", "X")), "id")
    assert got == [(1,), (2,)]
    # NULL semantics: eq never matches NULL rows
    assert rows(t.scan(E.col_eq("category", "Y")), "id") == [(3,), (4,)]
    assert rows(t.scan(E.is_null("category")), "id") == [(5,)]


def test_scan_empty_table(catalog, spark):
    t = catalog.create_table("db.empty", "id BIGINT, s STRING")
    df = t.scan()
    assert df.count() == 0
    assert [f.name for f in df.schema.fields] == ["id", "s"]


def test_partitioned_write_and_prune(catalog, spark):
    t = catalog.create_table(
        "db.part",
        "id BIGINT, cat STRING, ts TIMESTAMP, n INT",
        partition_spec=["cat", "day(ts)", "bucket(4, n)"],
    )
    data = [
        (1, "A", dt.datetime(2024, 1, 1, 10), 7),
        (2, "A", dt.datetime(2024, 1, 2, 11), 8),
        (3, "B", dt.datetime(2024, 1, 1, 12), 9),
        (4, None, dt.datetime(2024, 1, 3, 13), None),
    ]
    t.append(spark.createDataFrame(data, schema=t.schema))
    # all rows readable, source columns intact (identity partition col kept)
    assert rows(t.scan(), "id", "cat") == [(1, "A"), (2, "A"), (3, "B"), (4, None)]

    man = t.meta.read_manifest(t.meta.current_snapshot())
    # partition tuple recorded with transform values
    parts = {e.partition["cat"]: e.partition for e in man}
    assert parts["A"]["ts_day"] in (20240101, 20240102)
    # identity partition pruning
    pruned = t.prune(man, E.col_eq("cat", "A"))
    assert {e.partition["cat"] for e in pruned} == {"A"}
    # day-transform pruning from a source-column predicate
    pruned = t.prune(man, E.col_eq("ts", dt.datetime(2024, 1, 2, 11)))
    assert all(e.partition["ts_day"] == 20240102 for e in pruned)
    # bucket pruning: eq literal lands in one bucket
    pruned = t.prune(man, E.col_eq("n", 7))
    assert len(pruned) >= 1
    import zlib

    want = zlib.crc32(b"7") % 4
    assert all(e.partition["n_bucket_4"] == want for e in pruned)
    # null partition value roundtrips
    assert rows(t.scan(E.is_null("cat")), "id") == [(4,)]


def test_bucket_transform_faces_agree(catalog, spark):
    """Spark Column face and Python scalar face of every transform must
    produce identical values (write path vs pruning path)."""
    from swiftlake_spark.tables.transforms import Transform

    df = spark.createDataFrame(
        [(i, f"s{i}", dt.datetime(2024, 1 + i % 3, 1 + i, i % 24)) for i in range(20)],
        "n INT, s STRING, ts TIMESTAMP",
    )
    cases = [
        (Transform("bucket", "n", 8), "int"),
        (Transform("bucket", "s", 8), "string"),
        (Transform("truncate", "n", 10), "int"),
        (Transform("truncate", "s", 2), "string"),
        (Transform("year", "ts"), None),
        (Transform("month", "ts"), None),
        (Transform("day", "ts"), None),
        (Transform("hour", "ts"), None),
    ]
    for tr, dtype in cases:
        got = df.select(F.col(tr.source), tr.column(dtype).alias("t")).collect()
        for r in got:
            assert r["t"] == tr.apply(r[tr.source]), (tr, r)


def test_time_travel_and_refs(simple_table, spark):
    t = simple_table
    s1 = t.meta.current_snapshot()
    t.create_tag("v1")
    t.append(spark.createDataFrame([(6, "f", "Z", 6.5)], schema=t.schema))
    s2 = t.meta.current_snapshot()
    assert s2.snapshot_id != s1.snapshot_id

    assert t.scan().count() == 6
    assert t.scan(snapshot_id=s1.snapshot_id).count() == 5
    assert t.scan(tag="v1").count() == 5
    assert t.scan(as_of_ms=s1.timestamp_ms).count() == 5
    assert t.scan(as_of_ms=s2.timestamp_ms).count() == 6

    # branch write does not move main
    t.create_branch("dev")
    t.append(spark.createDataFrame([(7, "g", "Z", 7.5)], schema=t.schema), branch="dev")
    t.refresh()
    assert t.scan(branch="dev").count() == 7
    assert t.scan().count() == 6


def test_catalog_name_sugar(catalog, simple_table, spark):
    s1 = simple_table.meta.current_snapshot()
    simple_table.create_tag("rel")
    simple_table.append(
        spark.createDataFrame([(9, "x", "Q", 0.0)], schema=simple_table.schema)
    )
    assert catalog.load("db.simple").count() == 6
    assert catalog.load(f"db.simple$snapshot_{s1.snapshot_id}").count() == 5
    assert catalog.load("db.simple$tag_rel").count() == 5
    assert catalog.load(f"db.simple$timestamp_{s1.timestamp_ms}").count() == 5


def test_catalog_iso_timestamp_sugar(catalog, simple_table, spark):
    # the reference's ISO-8601 spelling (README.md:743): naive → UTC
    import datetime as dt

    s1 = simple_table.meta.current_snapshot()
    simple_table.append(
        spark.createDataFrame([(9, "x", "Q", 0.0)], schema=simple_table.schema)
    )
    iso = (
        dt.datetime.fromtimestamp(s1.timestamp_ms / 1000, tz=dt.timezone.utc)
        .replace(tzinfo=None)
        .isoformat()
    )
    assert catalog.load(f"db.simple$timestamp_{iso}").count() == 5
    # the same form resolves inside SQL text (colons included)
    sql, frames = catalog.resolve_sql(
        f"SELECT COUNT(*) AS n FROM db.simple$timestamp_{iso}"
    )
    assert spark.sql(sql, **frames).collect()[0]["n"] == 5
    with pytest.raises(ValueError, match="bad .timestamp"):
        catalog.load("db.simple$timestamp_not-a-time")


def test_resolve_sql(catalog, simple_table, spark):
    sql, frames = catalog.resolve_sql("SELECT count(*) AS n FROM db.simple WHERE category = 'X'")
    assert "db.simple" not in sql
    assert spark.sql(sql, **frames).collect()[0]["n"] == 2


def test_overwrite_by_filter_strict(catalog, spark):
    t = catalog.create_table(
        "db.ow", "id BIGINT, cat STRING, v DOUBLE", partition_spec=["cat"]
    )
    df = spark.createDataFrame(
        [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0)], schema=t.schema
    )
    t.append(df)
    # replace partition A wholesale
    t.overwrite_by_filter(
        spark.createDataFrame([(10, "A", 10.0)], schema=t.schema), E.col_eq("cat", "A")
    )
    assert rows(t.scan(), "id") == [(3,), (10,)]
    # added rows must match the filter
    with pytest.raises(ValidationError):
        t.overwrite_by_filter(
            spark.createDataFrame([(11, "B", 1.0)], schema=t.schema), E.col_eq("cat", "A")
        )
    # partially-matching file → strict failure (id spans the predicate)
    with pytest.raises(ValidationError):
        t.overwrite_by_filter(
            spark.createDataFrame([(12, "B", 1.0)], schema=t.schema),
            E.and_(E.col_eq("cat", "B"), E.col_eq("id", 999)),
        )


def test_update_cow_touches_only_matching_files(catalog, spark):
    t = catalog.create_table(
        "db.upd", "id BIGINT, cat STRING, v DOUBLE", partition_spec=["cat"]
    )
    t.append(
        spark.createDataFrame(
            [(1, "A", 1.0), (2, "A", 2.0), (3, "B", 3.0), (4, "C", 4.0)], schema=t.schema
        )
    )
    before = {e.path for e in t.meta.read_manifest(t.meta.current_snapshot())}
    t.update(E.col_eq("id", 2), {"v": F.lit(99.0), "cat": F.lit("A")})
    after_man = t.meta.read_manifest(t.meta.current_snapshot())
    after = {e.path for e in after_man}
    # B and C files untouched (file-granular COW, §2.C.8)
    untouched = before & after
    assert len(untouched) == 2
    assert rows(t.scan(), "id", "v") == [(1, 1.0), (2, 99.0), (3, 3.0), (4, 4.0)]
    snap = t.meta.current_snapshot()
    assert snap.summary["deleted-files"] == 1


def test_delete_drops_full_files_without_reading(catalog, spark):
    t = catalog.create_table(
        "db.del", "id BIGINT, cat STRING", partition_spec=["cat"]
    )
    t.append(
        spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B"), (4, "C")], schema=t.schema
        )
    )
    # whole partition A provably matches → metadata-only delete
    t.delete_where(E.col_eq("cat", "A"))
    assert rows(t.scan(), "id") == [(3,), (4,)]
    snap = t.meta.current_snapshot()
    assert snap.summary["deleted-files"] == 1
    assert snap.summary["added-files"] == 0  # nothing rewritten
    # row-level delete rewrites only the B file
    t.delete_where(E.and_(E.col_eq("cat", "B"), E.col_eq("id", 3)))
    assert rows(t.scan(), "id") == [(4,)]


def test_delete_noop_when_nothing_matches(catalog, spark):
    t = catalog.create_table("db.noop", "id BIGINT, cat STRING")
    t.append(spark.createDataFrame([(1, "A")], schema=t.schema))
    before = t.meta.current_snapshot().snapshot_id
    t.delete_where(E.col_eq("cat", "ZZZ"))
    assert t.meta.current_snapshot().snapshot_id == before


def test_partition_record_counts(catalog, spark):
    t = catalog.create_table("db.cnt", "id BIGINT, cat STRING", partition_spec=["cat"])
    t.append(
        spark.createDataFrame(
            [(1, "A"), (2, "A"), (3, "B")], schema=t.schema
        )
    )
    counts = {tuple(p.items()): n for p, n in t.partition_record_counts()}
    assert counts[(("cat", "A"),)] == 2
    assert counts[(("cat", "B"),)] == 1


def test_commit_conflict_retry(catalog, spark):
    """Two writers appending concurrently: both commits land (retry),
    final table has both sets of rows."""
    t1 = catalog.create_table("db.conc", "id BIGINT")
    t2 = catalog.table("db.conc")
    t1.append(spark.createDataFrame([(1,)], schema=t1.schema))
    # t2 still has stale metadata (version from create) — its commit must
    # retry on top of t1's append, not clobber it
    t2.append(spark.createDataFrame([(2,)], schema=t2.schema))
    t1.refresh()
    assert rows(t1.scan(), "id") == [(1,), (2,)]


def test_conflicting_cow_delete_fails(catalog, spark):
    from swiftlake_spark.tables.metadata import CommitConflict

    t1 = catalog.create_table("db.confl", "id BIGINT, cat STRING", partition_spec=["cat"])
    t1.append(spark.createDataFrame([(1, "A"), (2, "B")], schema=t1.schema))
    t2 = catalog.table("db.confl")
    t1.delete_where(E.col_eq("cat", "A"))
    with pytest.raises(CommitConflict):
        t2.update(E.col_eq("cat", "A"), {"id": F.lit(9)})


def test_sorted_write_files_are_sorted(catalog, spark):
    t = catalog.create_table("db.sorted", "id BIGINT, v DOUBLE", sort_order=["id ASC"])
    import random

    random.seed(1)
    data = [(i, float(i)) for i in random.sample(range(1000), 100)]
    t.append(spark.createDataFrame(data, schema=t.schema))
    # every file individually sorted by id
    for e in t.meta.read_manifest(t.meta.current_snapshot()):
        ids = [r["id"] for r in spark.read.parquet(t.location + "/" + e.path).collect()]
        assert ids == sorted(ids)


def test_resolve_sql_ignores_string_literals(catalog, simple_table, spark):
    sql, frames = catalog.resolve_sql(
        "SELECT count(*) AS n FROM db.simple WHERE name = 'db.simple' OR name = 'x.y'"
    )
    assert "'db.simple'" in sql and "'x.y'" in sql  # literals untouched
    assert list(frames) == ["t0"] and sql.count("{t0}") == 1  # table ref rewritten
    assert spark.sql(sql, **frames).collect()[0]["n"] == 0


def test_many_concurrent_appends_all_land(catalog, spark):
    """Commit-protocol stress: N stale writers appending concurrently —
    every commit must land via retry, no rows lost, snapshot lineage
    linear."""
    import threading

    t0 = catalog.create_table("db.stress", "id BIGINT")
    writers = [catalog.table("db.stress") for _ in range(6)]  # all stale
    errs = []

    def go(i, tbl):
        try:
            tbl.append(spark.createDataFrame([(i,)], schema=tbl.schema))
        except Exception as exc:  # noqa: BLE001
            errs.append((i, exc))

    threads = [threading.Thread(target=go, args=(i, w)) for i, w in enumerate(writers)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert not errs, errs
    t0.refresh()
    assert rows(t0.scan(), "id") == [(i,) for i in range(6)]
    # linear lineage: every snapshot's parent is the previous one
    snaps = sorted(t0.meta.snapshots, key=lambda s: s.snapshot_id)
    for prev, cur in zip(snaps, snaps[1:]):
        assert cur.parent_id == prev.snapshot_id


def test_uuid_time_logical_types(catalog, spark):
    """UUID/TIME DDL maps to canonical-string / micros-bigint physical
    columns (reference SchemaEvolution.java:478,484) and round-trips."""
    import datetime as dt

    from pyspark.sql import functions as F

    from swiftlake_spark.functions import (
        is_canonical_uuid,
        micros_to_time_string,
        time_of_day_micros,
        uuid_from_hex,
    )

    t = catalog.create_table("db.typed", "id INT, uid UUID, open_at TIME")
    assert t.schema["uid"].dataType.simpleString() == "string"
    assert t.schema["open_at"].dataType.simpleString() == "bigint"
    assert t.meta.properties["logical-type.uid"] == "uuid"
    assert t.meta.properties["logical-type.open_at"] == "time"

    src = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 2, 9, 30, 15, 250_000))], "id INT, ts TIMESTAMP"
    ).select(
        "id",
        uuid_from_hex(F.md5(F.col("id").cast("string"))).alias("uid"),
        time_of_day_micros(F.col("ts")).alias("open_at"),
    )
    t.append(src)
    row = t.scan().collect()[0]
    assert row["open_at"] == (9 * 3600 + 30 * 60 + 15) * 1_000_000 + 250_000
    got = t.scan().select(
        is_canonical_uuid(F.col("uid")).alias("ok"),
        micros_to_time_string(F.col("open_at")).alias("s"),
    ).collect()[0]
    assert got["ok"] is True
    assert got["s"] == "09:30:15.250000"


def test_rollback_to_snapshot(simple_table, spark):
    t = simple_table
    s1 = t.meta.current_snapshot()
    t.append(spark.createDataFrame([(6, "f", "Z", 6.5)], schema=t.schema))
    s2 = t.meta.current_snapshot()
    assert t.scan().count() == 6

    t.rollback_to(s1.snapshot_id)
    assert t.scan().count() == 5
    # rollback is metadata-only: the abandoned snapshot stays readable
    assert t.scan(snapshot_id=s2.snapshot_id).count() == 6
    # rolling back to a non-ancestor (the abandoned head) now fails
    with pytest.raises(ValidationError, match="not an ancestor"):
        t.rollback_to(s2.snapshot_id)


def test_incremental_scan_appends_between(simple_table, spark):
    t = simple_table
    s1 = t.meta.current_snapshot()
    t.append(spark.createDataFrame([(6, "f", "Z", 6.5)], schema=t.schema))
    s2 = t.meta.current_snapshot()
    t.append(spark.createDataFrame([(7, "g", "Z", 7.5)], schema=t.schema))

    # from s1 to head: exactly the rows appended by s2 and s3
    assert rows(t.incremental_scan(s1.snapshot_id), "id") == [(6,), (7,)]
    # bounded range: only s2's rows
    assert rows(
        t.incremental_scan(s1.snapshot_id, to_snapshot_id=s2.snapshot_id), "id"
    ) == [(6,)]
    # empty range is an empty typed DataFrame
    head = t.meta.current_snapshot()
    inc = t.incremental_scan(head.snapshot_id)
    assert inc.count() == 0 and [f.name for f in inc.schema.fields][0] == "id"

    # a COW delete in the range breaks append-only semantics → refuse
    t.delete_where(E.col_eq("id", 6))
    with pytest.raises(ValidationError, match="non-append"):
        t.incremental_scan(s1.snapshot_id)
    # ...but a range ending before the delete still works
    assert rows(
        t.incremental_scan(s1.snapshot_id, to_snapshot_id=s2.snapshot_id), "id"
    ) == [(6,)]


def test_reorder_columns_metadata_only(simple_table, spark):
    t = simple_table
    v0 = t.meta.version
    t.reorder_columns(["category", "id", "value", "name"])
    assert [f.name for f in t.schema.fields] == ["category", "id", "value", "name"]
    # reads (old files included) project in the new declared order
    assert t.scan().columns == ["category", "id", "value", "name"]
    assert rows(t.scan().filter(F.col("id") == 1)) == [("X", 1, 1.5, "a")]
    # metadata-only: exactly one new metadata version, no data rewritten
    assert t.meta.version == v0 + 1
    # appends after the reorder still roundtrip
    t.append(spark.createDataFrame([("Z", 6, 6.5, "f")], schema=t.schema))
    assert rows(t.scan().filter(F.col("id") == 6)) == [("Z", 6, 6.5, "f")]
    with pytest.raises(ValidationError, match="permute"):
        t.reorder_columns(["id", "name"])


def test_bloom_filter_table_property(catalog, spark):
    """write.bloom-filter-columns lands parquet bloom filters in the
    data files (verified by the on-disk footprint delta vs an identical
    table without the property) and reads stay exact."""
    import os

    rows_in = [(i, f"key-{i:05d}") for i in range(2000)]
    t1 = catalog.create_table(
        "db.bloomy", "id BIGINT, k STRING",
        properties={"write.bloom-filter-columns": "k",
                    "write.bloom-filter-ndv": "2000"},
    )
    t1.append(spark.createDataFrame(rows_in, schema=t1.schema))
    t2 = catalog.create_table("db.plain", "id BIGINT, k STRING")
    t2.append(spark.createDataFrame(rows_in, schema=t2.schema))

    def data_bytes(t):
        return sum(
            e.size_bytes
            for e in t.meta.read_manifest(t.meta.current_snapshot())
        )

    # identical data: the bloom-filtered files must carry extra bytes
    assert data_bytes(t1) > data_bytes(t2)
    got = rows(t1.scan(E.col_eq("k", "key-00042")), "id")
    assert got == [(42,)]


def test_delete_overwrite_3vl_and_misc_guards(catalog, spark):
    """Round-6 review pins: strict overwrite must classify a {match,NULL}
    file as PARTIAL (not drop it whole), update rejects unknown set
    columns, unknown branches raise like unknown tags, and expired-parent
    snapshot deltas refuse instead of reporting the world as added."""
    import pytest
    from pyspark.sql import functions as F

    from swiftlake_spark.tables import expressions as E
    from swiftlake_spark.tables.metadata import ValidationError

    t = catalog.create_table("db.tvl", "id BIGINT, c STRING")
    t.append(spark.createDataFrame([(1, "x"), (2, None)], schema=t.schema).coalesce(1))
    assert len(t.meta.read_manifest(t.meta.current_snapshot())) == 1

    # strict overwrite on c='x': the single file holds a match AND a NULL
    # row → partial → must refuse (the NULL row does NOT match)
    with pytest.raises(ValidationError):
        t.overwrite_by_filter(
            spark.createDataFrame([(9, "x")], schema=t.schema), E.col_eq("c", "x")
        )
    assert sorted(r["id"] for r in t.scan().collect()) == [1, 2]

    # added-row validation: a NULL-filter row in df is not a match
    t2 = catalog.create_table("db.tvl2", "id BIGINT, c STRING")
    t2.append(spark.createDataFrame([(1, "x")], schema=t2.schema))
    with pytest.raises(ValidationError):
        t2.overwrite_by_filter(
            spark.createDataFrame([(9, "x"), (10, None)], schema=t2.schema),
            E.col_eq("c", "x"),
        )

    with pytest.raises(ValidationError):
        t.update(E.col_eq("id", 1), {"nope": F.lit(1)})
    with pytest.raises(ValueError):
        t.scan(branch="mian")

    # expired parent → snapshot_changes refuses
    from swiftlake_spark.tables.maintenance import expire_snapshots

    t.append(spark.createDataFrame([(3, "y")], schema=t.schema))
    t.append(spark.createDataFrame([(4, "z")], schema=t.schema))
    mid = t.meta.snapshots[-2]
    last = t.meta.snapshots[-1]
    t.meta.snapshots = [s for s in t.meta.snapshots if s.snapshot_id != mid.snapshot_id]
    with pytest.raises(ValidationError):
        t.snapshot_changes(last.snapshot_id)


def test_catalog_iso_timestamp_with_offset(catalog, simple_table, spark):
    import datetime as dt

    s1 = simple_table.meta.current_snapshot()
    simple_table.append(
        spark.createDataFrame([(9, "x", "Q", 0.0)], schema=simple_table.schema)
    )
    # same instant spelled at +02:00 must resolve like the UTC spelling
    local = dt.datetime.fromtimestamp(
        s1.timestamp_ms / 1000, tz=dt.timezone(dt.timedelta(hours=2))
    ).isoformat()
    assert catalog.load(f"db.simple$timestamp_{local}").count() == 5
    sql, frames = catalog.resolve_sql(
        f"SELECT COUNT(*) AS n FROM db.simple$timestamp_{local}"
    )
    assert spark.sql(sql, **frames).collect()[0]["n"] == 5


def test_spark_as_of_spelling(catalog, simple_table, spark):
    import datetime as dt

    s1 = simple_table.meta.current_snapshot()
    simple_table.append(
        spark.createDataFrame([(9, "x", "Q", 0.0)], schema=simple_table.schema)
    )
    # VERSION AS OF <snapshot id>
    sql, frames = catalog.resolve_sql(
        f"SELECT COUNT(*) AS n FROM db.simple VERSION AS OF {s1.snapshot_id}"
    )
    assert spark.sql(sql, **frames).collect()[0]["n"] == 5
    # TIMESTAMP AS OF '<iso with space>'
    iso = (
        dt.datetime.fromtimestamp(s1.timestamp_ms / 1000, tz=dt.timezone.utc)
        .replace(tzinfo=None)
        .isoformat(sep=" ")
    )
    sql, frames = catalog.resolve_sql(
        f"SELECT COUNT(*) AS n FROM db.simple TIMESTAMP AS OF '{iso}'"
    )
    assert spark.sql(sql, **frames).collect()[0]["n"] == 5
    # FOR SYSTEM_TIME AS OF variant
    sql, frames = catalog.resolve_sql(
        f"SELECT COUNT(*) AS n FROM db.simple FOR SYSTEM_TIME AS OF '{iso}'"
    )
    assert spark.sql(sql, **frames).collect()[0]["n"] == 5
    # a string literal containing the pattern is untouched
    sql, frames = catalog.resolve_sql(
        "SELECT 'db.simple TIMESTAMP AS OF ''2020-01-01''' AS s FROM db.simple"
    )
    assert spark.sql(sql, **frames).count() == 6
    # VERSION AS OF with a non-numeric arg points at the branch/tag sugar
    with pytest.raises(ValueError, match="branch"):
        catalog.resolve_sql("SELECT * FROM db.simple VERSION AS OF 'dev'")
