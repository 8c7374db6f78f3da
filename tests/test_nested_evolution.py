"""Nested schema evolution matrix: add/drop/widen/rename inside structs,
struct-in-list and struct-in-map, across mixed file generations.

Mirrors the nested cases of the reference's sql/SchemaEvolutionTest.java
(element-wise list rewrite SchemaEvolution.java:538-560, map rewrite
:561-583, field-ID rename resolution :328-404): every assert reads a
table whose live files span schema versions and checks exact values.
All rebuilds are Catalyst expressions (evolution.build_read_plan) — the
plan tests assert no Python eval nodes appear.
"""

import dataclasses

import pytest
from pyspark.sql import Row
from pyspark.sql import types as T

from swiftlake_spark.tables.metadata import ValidationError


def rows(df, *cols):
    out = df.select(*cols) if cols else df
    return sorted([tuple(r) for r in out.collect()])


def _rewrite_manifest(t, snap, entries):
    """Overwrite a snapshot's manifest in place (test-only: simulates
    files written by engine versions that stamped fewer column IDs).
    The engine never rewrites a manifest, so its process-wide cache of
    parsed manifests is dropped here, as a new process would start."""
    import json
    import os

    from swiftlake_spark.tables import metadata as M

    with open(os.path.join(t.location, snap.manifest), "w") as f:
        json.dump([e.to_json() for e in entries], f, default=str)
    M._parse_manifest.cache_clear()


def _restamp(entries, keep):
    """Entries with their column IDs narrowed to those ``keep`` accepts."""
    return [
        dataclasses.replace(
            e, column_ids={k: v for k, v in e.column_ids.items() if keep(k)})
        for e in entries
    ]


@pytest.fixture()
def nested_table(catalog, spark):
    t = catalog.create_table(
        "db.nested_ev",
        "id BIGINT, payload STRUCT<amt: INT, note: STRING>, "
        "tags ARRAY<STRUCT<k: STRING, w: INT>>, "
        "attrs MAP<STRING, STRUCT<x: INT>>",
    )
    df = spark.createDataFrame(
        [
            (1, Row(amt=10, note="a"), [Row(k="t1", w=1)], {"m": Row(x=7)}),
            (2, Row(amt=20, note="b"), [Row(k="t2", w=2), Row(k="t3", w=3)], {}),
            (3, None, None, None),
        ],
        schema=t.schema,
    )
    t.append(df)
    return t


def test_nested_add_null_fills_old_files(nested_table, spark):
    t = nested_table
    t.add_column("payload.score", "double")
    t.append(
        spark.createDataFrame(
            [(4, Row(amt=40, note="d", score=0.5), [], {})], schema=t.schema
        )
    )
    got = rows(t.scan(), "id", "payload.amt", "payload.score")
    assert got == [(1, 10, None), (2, 20, None), (3, None, None), (4, 40, 0.5)]


def test_nested_drop_hides_everywhere(nested_table, spark):
    t = nested_table
    t.drop_column("payload.note")
    assert t.schema["payload"].dataType.fieldNames() == ["amt"]
    got = rows(t.scan(), "id", "payload")
    # struct-level NULL survives the rebuild (row 3 stays NULL, not a
    # struct of NULLs)
    assert got == [(1, (10,)), (2, (20,)), (3, None)]


def test_nested_widen_across_generations(nested_table, spark):
    t = nested_table
    t.widen_column("payload.amt", "bigint")
    assert t.schema["payload"].dataType["amt"].dataType == T.LongType()
    t.append(
        spark.createDataFrame(
            [(4, Row(amt=2**40, note="d"), [], {})], schema=t.schema
        )
    )
    got = rows(t.scan(), "id", "payload.amt")
    assert got == [(1, 10), (2, 20), (3, None), (4, 2**40)]


def test_nested_rename_resolves_old_files_by_id(nested_table, spark):
    t = nested_table
    t.rename_column("payload.amt", "amount")
    # metadata-only: old files still carry "payload.amt" physically
    got = rows(t.scan(), "id", "payload.amount", "payload.note")
    assert got == [(1, 10, "a"), (2, 20, "b"), (3, None, None)]
    # new writes use the new name; both generations union cleanly
    t.append(
        spark.createDataFrame(
            [(4, Row(amount=40, note="d"), [], {})], schema=t.schema
        )
    )
    got = rows(t.scan(), "id", "payload.amount")
    assert got == [(1, 10), (2, 20), (3, None), (4, 40)]


def test_rename_in_struct_in_list(nested_table, spark):
    t = nested_table
    t.rename_column("tags.element.w", "weight")
    got = rows(t.scan(), "id", "tags")
    assert got == [
        (1, [("t1", 1)]),
        (2, [("t2", 2), ("t3", 3)]),
        (3, None),
    ]
    assert t.scan().schema["tags"].dataType.elementType.fieldNames() == ["k", "weight"]
    # add inside list elements: old files NULL-fill per element
    t.add_column("tags.element.src", "string")
    row1 = t.scan().filter("id = 1").select("tags").collect()[0][0]
    assert row1 == [Row(k="t1", weight=1, src=None)]


def test_rename_in_struct_in_map_value(nested_table, spark):
    t = nested_table
    t.rename_column("attrs.value.x", "xv")
    got = t.scan().filter("id = 1").select("attrs").collect()[0][0]
    assert got == {"m": Row(xv=7)}


def test_parent_rename_preserves_descendant_ids(nested_table, spark):
    t = nested_table
    ids_before = dict(t.meta.field_ids)
    t.rename_column("payload", "meta2")
    # descendants keep their IDs under the new parent path
    assert t.meta.field_ids["meta2.amt"] == ids_before["payload.amt"]
    assert t.meta.field_ids["meta2.note"] == ids_before["payload.note"]
    got = rows(t.scan(), "id", "meta2.amt")
    assert got == [(1, 10), (2, 20), (3, None)]
    # a nested rename AFTER the parent rename still resolves gen-1 files
    t.rename_column("meta2.amt", "amount")
    assert t.meta.field_ids["meta2.amount"] == ids_before["payload.amt"]
    got = rows(t.scan(), "id", "meta2.amount")
    assert got == [(1, 10), (2, 20), (3, None)]


def test_nested_drop_readd_does_not_resurrect(nested_table, spark):
    t = nested_table
    t.drop_column("payload.amt")
    t.add_column("payload.amt", "int")
    # the re-added field is a NEW ID: old files' retired data stays
    # invisible (ID-based NULL-fill, not name-based resurrection)
    got = rows(t.scan(), "id", "payload.amt")
    assert got == [(1, None), (2, None), (3, None)]
    t.append(
        spark.createDataFrame(
            [(4, Row(note="d", amt=44), [], {})], schema=t.schema
        )
    )
    got = rows(t.scan(), "id", "payload.amt")
    assert got == [(1, None), (2, None), (3, None), (4, 44)]


def test_mixed_generations_and_time_travel(nested_table, spark):
    t = nested_table
    s1 = t.meta.current_snapshot().snapshot_id
    t.add_column("payload.score", "double")
    t.append(
        spark.createDataFrame(
            [(4, Row(amt=40, note="d", score=0.5), [], {})], schema=t.schema
        )
    )
    t.rename_column("payload.amt", "amount")
    t.append(
        spark.createDataFrame(
            [(5, Row(amount=50, note="e", score=1.5), [], {})], schema=t.schema
        )
    )
    # three file generations under one read
    got = rows(t.scan(), "id", "payload.amount", "payload.score")
    assert got == [
        (1, 10, None), (2, 20, None), (3, None, None), (4, 40, 0.5), (5, 50, 1.5),
    ]
    # time travel reads old FILES under the CURRENT schema (ID-resolved)
    got1 = rows(t.scan(snapshot_id=s1), "id", "payload.amount")
    assert got1 == [(1, 10), (2, 20), (3, None)]


def test_add_field_accepts_ddl_type_names(nested_table):
    t = nested_table
    # DDL names ("int", not JSON "integer") must work, same as widen
    t.add_column("tags.element.w2", "int")
    t.add_column("payload.deep", "struct<a: bigint, b: string>")
    assert t.schema["payload"].dataType["deep"].dataType == T.StructType(
        [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
    )
    # new struct subtree got fresh IDs
    assert "payload.deep.a" in t.meta.field_ids


def test_rename_to_container_token_name_is_allowed(catalog, spark):
    # "value" is only special as a MAP descent segment; as a struct field
    # name it is legal and the type-driven path walker disambiguates
    t = catalog.create_table("db.tok", "id BIGINT, s STRUCT<v: INT>")
    t.append(spark.createDataFrame([(1, Row(v=5))], schema=t.schema))
    t.rename_column("s.v", "value")
    assert rows(t.scan(), "id", "s.value") == [(1, 5)]


def test_nested_rename_refused_over_pre_nested_tracking_files(nested_table):
    t = nested_table
    # simulate a file written before nested-ID tracking: strip the
    # nested stamps from every manifest entry (top-level kept)
    snap = t.meta.current_snapshot()
    entries = _restamp(t.meta.read_manifest(snap), lambda k: "." not in k)
    _rewrite_manifest(t, snap, entries)
    with pytest.raises(ValidationError, match="nested field-ID tracking"):
        t.refresh().rename_column("payload.amt", "amount")


def test_rename_refused_when_time_travel_reaches_legacy_files(nested_table, spark):
    t = nested_table
    # gen-1 files get their column_ids stripped entirely (pre-field-ID
    # legacy) in the FIRST snapshot's manifest; then new data arrives
    first = t.meta.snapshots[0]
    entries = _restamp(t.meta.read_manifest(first), lambda k: False)
    _rewrite_manifest(t, first, entries)
    t2 = t.refresh()
    # current snapshot still stamped — but snapshot 1 is reachable by
    # time travel, where the rename would silently NULL the column
    with pytest.raises(ValidationError, match="time travel"):
        t2.rename_column("id", "doc_id")


def test_nested_add_resurrection_guard(nested_table, spark):
    t = nested_table
    # files written pre-nested-tracking AND physically containing
    # payload.amt: a drop + re-add of that name must be refused (the
    # name-based legacy read would resurrect retired data)
    snap = t.meta.current_snapshot()
    entries = _restamp(t.meta.read_manifest(snap), lambda k: "." not in k)
    _rewrite_manifest(t, snap, entries)
    t2 = t.refresh()
    t2.drop_column("payload.amt")
    with pytest.raises(ValidationError, match="resurrect"):
        t2.add_column("payload.amt", "int")
    # a name NOT present in the old files is fine
    t2.add_column("payload.brand_new", "int")


def test_evolution_plan_stays_jvm_side(nested_table, spark):
    t = nested_table
    t.rename_column("payload.amt", "amount")
    t.add_column("payload.score", "double")
    t.append(
        spark.createDataFrame(
            [(4, Row(amount=40, note="d", score=0.5), [], {})], schema=t.schema
        )
    )
    plan = t.scan()._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


# ---------------------------------------------------------------------------
# Property: any sequence of nested evolution ops preserves per-field-ID
# value identity.  Every append records, per row, {field_id: value}; a
# scan under the FINAL schema must show, for every live leaf, exactly
# the value its field ID carried when the row was written (or NULL if
# the ID did not exist yet) — rename moves names, never values; drop +
# re-add never resurrects.  Mirrors the invariant the reference's
# SchemaEvolutionTest pins case-by-case, but over random histories.
# ---------------------------------------------------------------------------
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

_OPS = st.lists(
    st.sampled_from(["add", "drop", "rename", "widen"]), min_size=1, max_size=6
)

# unique per example AND per hypothesis replay/shrink attempt — deriving
# the name from drawn values collides when an example is replayed
import itertools as _it

_PROP_SEQ = _it.count()


import os as _os

@settings(
    max_examples=int(_os.environ.get("SWIFTLAKE_HYPOTHESIS_EXAMPLES", "8")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(ops=_OPS, data=st.data())
def test_nested_evolution_value_identity_property(catalog, spark, ops, data):
    import itertools

    name = f"db.prop_{next(_PROP_SEQ)}"
    t = catalog.create_table(name, "id BIGINT, s STRUCT<a: INT, b: STRING>")
    fresh = (f"f{i}" for i in itertools.count())
    appended: list[tuple[int, dict[int, object]]] = []

    def leaf_fields(table):
        st_ = table.schema["s"].dataType
        return {f.name: f.dataType.simpleString() for f in st_.fields}

    def append_row(k):
        t2 = catalog.table(name)
        fields = leaf_fields(t2)
        vals, rec = {}, {}
        for fname, dtype in fields.items():
            fid = t2.meta.field_ids[f"s.{fname}"]
            v = f"v{k}_{fid}" if dtype == "string" else k * 1000 + fid
            vals[fname] = v
            rec[fid] = v
        from pyspark.sql import Row

        t2.append(
            spark.createDataFrame([(k, Row(**vals))], schema=t2.schema)
        )
        appended.append((k, rec))

    append_row(0)
    for i, op in enumerate(ops, start=1):
        t2 = catalog.table(name)
        fields = leaf_fields(t2)
        names = sorted(fields)
        if op == "add":
            t2.add_column(f"s.{next(fresh)}", "int")
        elif op == "drop" and len(names) > 1:
            t2.drop_column(f"s.{data.draw(st.sampled_from(names))}")
        elif op == "rename":
            t2.rename_column(f"s.{data.draw(st.sampled_from(names))}", next(fresh))
        elif op == "widen":
            ints = [n for n in names if fields[n] == "int"]
            if ints:
                t2.widen_column(f"s.{data.draw(st.sampled_from(ints))}", "bigint")
        append_row(i)

    # expected: value by CURRENT path's field ID at each row's write time
    t3 = catalog.table(name)
    current = {
        f.name: t3.meta.field_ids[f"s.{f.name}"]
        for f in t3.schema["s"].dataType.fields
    }
    got = {
        r["id"]: r["s"].asDict() if r["s"] is not None else {}
        for r in t3.scan().collect()
    }
    for k, rec in appended:
        want = {fname: rec.get(fid) for fname, fid in current.items()}
        assert got[k] == want, f"row {k}: {got[k]} != {want} (ops={ops})"


def test_resurrection_guard_field_literally_named_element(catalog, spark):
    """A struct field legitimately NAMED 'element'/'value' must still be
    guarded: the physical-path normalization is type-driven, so the name
    is not mistaken for a container token (old blanket str.replace turned
    's.element' into 's.list.element', missing the real leaf)."""
    t = catalog.create_table(
        "db.tok_guard", "id BIGINT, s STRUCT<element: INT, ok: INT>, "
        "tags ARRAY<STRUCT<k: STRING, w: INT>>"
    )
    t.append(
        spark.createDataFrame(
            [(1, Row(element=5, ok=1), [Row(k="a", w=2)])], schema=t.schema
        )
    )
    snap = t.meta.current_snapshot()
    entries = _restamp(t.meta.read_manifest(snap), lambda k: "." not in k)
    _rewrite_manifest(t, snap, entries)
    t2 = t.refresh()
    # struct field named "element": physical path is plain "s.element"
    t2.drop_column("s.element")
    with pytest.raises(ValidationError, match="resurrect"):
        t2.add_column("s.element", "int")
    # genuine container descent still normalizes ("tags.list.element.w")
    t3 = t2.refresh()
    t3.drop_column("tags.element.w")
    with pytest.raises(ValidationError, match="resurrect"):
        t3.add_column("tags.element.w", "int")
    # a fresh name under the container is fine
    t3.add_column("tags.element.brand_new", "int")
