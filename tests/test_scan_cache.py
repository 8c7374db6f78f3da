"""Cached planning: parsed manifests kept by their immutable names, and
file-group read plans kept by (schema, field IDs, file stamp).

Every read here goes through ``engine.sql`` and is compared with rows
that do not depend on the caches: an explicit-path read of the table's
files, or a plain Spark view of the same rows.
"""

from __future__ import annotations

import dataclasses
import datetime as dt
import os
import sys
import threading
import time

import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

SCHEMA = "id BIGINT, p STRING, v DOUBLE"


@pytest.fixture()
def eng(spark, tmp_path):
    from swiftlake_spark.engine import SwiftLakeEngine

    return SwiftLakeEngine(spark, warehouse=str(tmp_path / "wh"))


def _scans(eng):
    from swiftlake_spark.plans.metrics import ScanMetrics

    seen = []
    eng.add_metric_collector(
        lambda m: seen.append(m) if isinstance(m, ScanMetrics) else None)
    return seen


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def _table(eng, spark, rows, name="db.t", spec=("p",)):
    t = eng.catalog.create_table(name, SCHEMA, partition_spec=list(spec))
    t.append(spark.createDataFrame(rows, schema=SCHEMA))
    return eng.catalog.table(name)


def _append(eng, spark, rows, name="db.t"):
    time.sleep(0.01)  # distinct commit timestamps for TIMESTAMP AS OF
    eng.catalog.table(name).append(spark.createDataFrame(rows, schema=SCHEMA))
    return eng.catalog.table(name).meta.current_snapshot()


# ------------------------------------------------------------ path form
ESCAPED = [None, "", "a b%41", "#x", "é", "plain"]


@pytest.mark.parametrize("where", [
    "p IN ('a b%41', '#x', 'é')",
    "p IS NULL",
    "p = ''",
    "p IN ('', 'plain') AND id > 2",
])
def test_pruned_scan_matches_explicit_paths_on_escaped_partitions(
        eng, spark, where):
    """Partition directories of NULL ('#n'), '' ('#e'), '%' and '#'
    values hold characters that Spark's file URIs encode ('%23', '%25',
    '%20') while 'é' stays raw; the pruned scan must read exactly the
    rows an explicit read of every file keeps."""
    rows = [(i, ESCAPED[i % len(ESCAPED)], float(i)) for i in range(36)]
    t = _table(eng, spark, rows)
    seen = _scans(eng)
    got = _rows(eng.sql(f"SELECT id, p, v FROM db.t WHERE {where}"), "id", "p", "v")
    explicit = t._read_entries(t.meta.read_manifest(t.meta.current_snapshot()))
    want = _rows(explicit.where(where), "id", "p", "v")
    assert got == want and want
    assert seen[-1].pruned_files > 0 and seen[-1].scanned_files > 0


# ---------------------------------------------------------- invalidation
ROWS = [(i, "xy"[i % 2], float(i)) for i in range(10)]


def _count(eng, sql="SELECT COUNT(*) AS n FROM db.t"):
    return eng.sql(sql).collect()[0]["n"]


def test_another_handles_append_is_visible(eng, spark, tmp_path):
    from swiftlake_spark.engine import SwiftLakeEngine

    _table(eng, spark, ROWS)
    assert _count(eng) == 10
    other = SwiftLakeEngine(spark, warehouse=str(tmp_path / "wh"))
    _append(other, spark, [(100, "x", 1.0), (101, "z", 2.0)])
    assert _count(eng) == 12
    assert _count(eng, "SELECT COUNT(*) AS n FROM db.t WHERE p = 'x'") == 6


def test_time_travel_reads_the_old_snapshot(eng, spark):
    t = _table(eng, spark, ROWS)
    old = t.meta.current_snapshot()
    assert _count(eng) == 10
    _append(eng, spark, [(100, "x", 1.0)])
    assert _count(eng) == 11
    assert _count(eng, f"SELECT COUNT(*) AS n FROM db.t$snapshot_{old.snapshot_id}") == 10
    iso = (dt.datetime.fromtimestamp(old.timestamp_ms / 1000, tz=dt.timezone.utc)
           .replace(tzinfo=None).isoformat(sep=" "))
    assert _count(eng, f"SELECT COUNT(*) AS n FROM db.t TIMESTAMP AS OF '{iso}'") == 10
    got = _rows(eng.sql(
        f"SELECT id FROM db.t$snapshot_{old.snapshot_id} WHERE p = 'x'"), "id")
    assert got == [(i,) for i in range(0, 10, 2)]


def test_schema_changes_after_a_cached_read(eng, spark):
    t = _table(eng, spark, ROWS)
    assert _count(eng, "SELECT COUNT(*) AS n FROM db.t WHERE p = 'x'") == 5
    t.add_column("w", "int")
    df = eng.sql("SELECT * FROM db.t WHERE p = 'x'")
    assert df.columns == ["id", "p", "v", "w"]
    assert {r["w"] for r in df.collect()} == {None}
    eng.catalog.table("db.t").rename_column("v", "val")
    df = eng.sql("SELECT id, val FROM db.t WHERE p = 'x'")
    assert _rows(df, "id", "val") == [(i, float(i)) for i in range(0, 10, 2)]


def test_rollback_reads_the_old_files(eng, spark):
    t = _table(eng, spark, ROWS)
    old = t.meta.current_snapshot()
    _append(eng, spark, [(100, "x", 1.0)])
    eng.sql("UPDATE db.t SET v = -1.0 WHERE id < 3").collect()
    assert _count(eng, "SELECT COUNT(*) AS n FROM db.t WHERE v < 0") == 3
    eng.catalog.table("db.t").rollback_to(old.snapshot_id)
    assert _rows(eng.sql("SELECT id, p, v FROM db.t"), "id", "p", "v") == sorted(ROWS)


def test_self_join_prunes_each_side(eng, spark):
    rows = [(i, "abcd"[i % 4], float(i)) for i in range(40)]
    _table(eng, spark, rows)
    spark.createDataFrame(rows, schema=SCHEMA).createOrReplaceTempView("plain_t")
    seen = _scans(eng)
    q = ("SELECT a.id AS a_id, b.id AS b_id FROM {t} a JOIN {t} b "
         "ON a.id + 1 = b.id WHERE a.p = 'a' AND b.p = 'b'")
    got = _rows(eng.sql(q.format(t="db.t")), "a_id", "b_id")
    assert got == _rows(spark.sql(q.format(t="plain_t")), "a_id", "b_id") and got
    assert [m.scanned_files for m in seen[-2:]] == [1, 1]


# ------------------------------------------------------ bounds, threads
def test_read_plan_is_reused_until_the_schema_changes(eng, spark):
    from swiftlake_spark.tables import evolution as EV

    t = _table(eng, spark, ROWS)
    _count(eng)
    before = EV._typeless_read_plan.cache_info()
    for p in "xyx":
        eng.sql(f"SELECT id FROM db.t WHERE p = '{p}'").collect()
    after = EV._typeless_read_plan.cache_info()
    assert after.misses == before.misses and after.hits >= before.hits + 3
    # a name no other test adds: the cache is process-wide
    t.add_column("w_reuse", "int")
    assert eng.sql("SELECT * FROM db.t WHERE p = 'x'").columns == ["id", "p", "v", "w_reuse"]
    assert EV._typeless_read_plan.cache_info().misses > after.misses


def test_read_plan_cache_stays_at_its_cap(spark):
    from pyspark.sql import types as T

    from swiftlake_spark.tables import evolution as EV

    for i in range(EV.READ_PLAN_CACHE_CAP + 5):
        schema = T.StructType([T.StructField(f"c{i}", T.LongType())])
        (rs, cols, paths), = EV.plan_file_group(schema, {f"c{i}": 1}, {"c": 1}, ["f"])
        assert rs.names == ["c"] and len(cols) == 1 and paths == ["f"]
    assert EV._typeless_read_plan.cache_info().currsize == EV.READ_PLAN_CACHE_CAP


def test_manifest_cache_stays_at_its_cap(eng, spark):
    from swiftlake_spark.tables import metadata as M

    t = _table(eng, spark, ROWS, spec=())
    entries = t.meta.read_manifest(t.meta.current_snapshot())
    snaps = [
        M.Snapshot(i, None, 0, "append", M.write_manifest(t.location, i, entries[: i % 3]))
        for i in range(M.MANIFEST_CACHE_CAP + 5)
    ]
    for s in snaps:
        assert len(t.meta.read_manifest(s)) == s.snapshot_id % 3
    assert M._parse_manifest.cache_info().currsize == M.MANIFEST_CACHE_CAP
    # a cached manifest hands each caller its own list of frozen entries
    last = next(s for s in reversed(snaps) if s.snapshot_id % 3)
    a = t.meta.read_manifest(last)
    a.clear()
    b = t.meta.read_manifest(last)
    assert len(b) == last.snapshot_id % 3
    with pytest.raises(dataclasses.FrozenInstanceError):
        b[0].column_ids = {}


def test_concurrent_readers_see_only_committed_counts(eng, spark):
    _table(eng, spark, ROWS)
    committed = {10}
    done = threading.Event()
    seen: dict[int, list[int]] = {}
    errors: list[BaseException] = []

    def reader(k):
        out = seen.setdefault(k, [])
        try:
            while not done.is_set() or len(out) < 2:
                out.append(_count(eng))
        except BaseException as exc:  # noqa: BLE001
            errors.append(exc)

    threads = [threading.Thread(target=reader, args=(k,)) for k in range(4)]
    for th in threads:
        th.start()
    try:
        for i in range(4):
            committed.add(10 + 3 * (i + 1))
            _append(eng, spark, [(100 + 3 * i + j, "xyz"[j], 0.0) for j in range(3)])
    finally:
        done.set()
        for th in threads:
            th.join(timeout=120)
    assert not any(th.is_alive() for th in threads)
    assert not errors
    for counts in seen.values():
        assert set(counts) <= committed
        assert counts == sorted(counts)
