"""Nested schema evolution: field-ID bookkeeping + read-side rebuild.

The reference evolves nested types element-wise — rename/widen/NULL-fill
*inside* structs, lists and maps (SchemaEvolution.java:511-587: list
rewrite :538-560, map rewrite :561-583).  This module re-expresses that
Spark-first:

- every struct field at any depth has a stable field ID, keyed by a
  dotted *path* (``payload.amount``; array elements descend through the
  fixed token ``element``, maps through ``key``/``value`` — Iceberg's
  naming convention, which is public);
- files stamp their write-time path→ID mapping in the manifest
  (ManifestEntry.column_ids), so renames resolve by ID;
- reads rebuild evolved columns declaratively: ``F.struct`` re-projects
  struct fields (rename = alias, add = typed NULL literal),
  ``F.transform`` rewrites array elements, ``F.transform_keys`` /
  ``F.transform_values`` rewrite map sides — all JVM-side Catalyst
  expressions inside whole-stage codegen, no Python UDFs.  Widened
  leaves are upcast by the parquet reader itself (declared type wins in
  the read schema), exactly like top-level widening.

Scale note: the rebuild is a per-file-group projection planned once on
the driver; executors see ordinary columnar scans + codegen'd
expressions, so evolution costs nothing at 100 TB beyond the projection
itself.
"""

from __future__ import annotations

import functools
import re

from typing import Any, Callable, Iterator

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swiftlake_spark.tables.metadata import ValidationError

# widenings permitted anywhere in the type tree (same lattice as the
# reference's type-promotion rules)
WIDENINGS = {
    ("tinyint", "smallint"), ("tinyint", "int"), ("tinyint", "bigint"),
    ("smallint", "int"), ("smallint", "bigint"),
    ("int", "bigint"), ("float", "double"),
}

# file-group read plans kept process-wide; keyed by the declared schema
# and field IDs, so a schema change is a new key
READ_PLAN_CACHE_CAP = 64

# --------------------------------------------------------------- walking

def iter_struct_paths(schema: T.StructType) -> Iterator[tuple[str, T.StructField]]:
    """Yield (dotted-path, StructField) for every struct field at every
    depth, top-level included, descending arrays as ``.element`` and maps
    as ``.key`` / ``.value``."""

    def _walk(dtype: T.DataType, prefix: str) -> Iterator[tuple[str, T.StructField]]:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                path = f"{prefix}.{f.name}" if prefix else f.name
                yield path, f
                yield from _walk(f.dataType, path)
        elif isinstance(dtype, T.ArrayType):
            yield from _walk(dtype.elementType, f"{prefix}.element")
        elif isinstance(dtype, T.MapType):
            yield from _walk(dtype.keyType, f"{prefix}.key")
            yield from _walk(dtype.valueType, f"{prefix}.value")

    yield from _walk(schema, "")


# --------------------------------------------------------------- editing

def _rebuild_at(
    dtype: T.DataType, segs: list[str], edit: Callable[[T.StructType], T.StructType]
) -> T.DataType:
    """Apply ``edit`` to the struct addressed by ``segs``, rebuilding the
    enclosing type tree immutably.  Descent is type-driven: on an array
    the segment must be ``element``, on a map ``key``/``value``, on a
    struct it names a field — so a struct field legitimately named
    "value" stays addressable (the dtype at each step disambiguates,
    and a column has exactly one type, so paths never collide)."""
    if not segs:
        if not isinstance(dtype, T.StructType):
            raise ValidationError(f"path does not address a struct ({dtype.simpleString()})")
        return edit(dtype)
    seg = segs[0]
    if isinstance(dtype, T.ArrayType):
        if seg != "element":
            raise ValidationError(f"arrays descend via 'element', not {seg!r}")
        return T.ArrayType(_rebuild_at(dtype.elementType, segs[1:], edit), dtype.containsNull)
    if isinstance(dtype, T.MapType):
        if seg == "key":
            return T.MapType(
                _rebuild_at(dtype.keyType, segs[1:], edit), dtype.valueType,
                dtype.valueContainsNull,
            )
        if seg == "value":
            return T.MapType(
                dtype.keyType, _rebuild_at(dtype.valueType, segs[1:], edit),
                dtype.valueContainsNull,
            )
        raise ValidationError(f"maps descend via 'key'/'value', not {seg!r}")
    if not isinstance(dtype, T.StructType):
        raise ValidationError(f"cannot descend {dtype.simpleString()} via field {seg!r}")
    if seg not in dtype.fieldNames():
        raise ValidationError(f"no field {seg!r} in {dtype.simpleString()}")
    return T.StructType(
        [
            T.StructField(f.name, _rebuild_at(f.dataType, segs[1:], edit), f.nullable, f.metadata)
            if f.name == seg
            else f
            for f in dtype.fields
        ]
    )


def _split(path: str) -> tuple[list[str], str]:
    segs = path.split(".")
    return segs[:-1], segs[-1]


def add_field(schema: T.StructType, path: str, dtype: str) -> T.StructType:
    parent, leaf = _split(path)

    # DDL type names ("int", "bigint", "array<string>"), consistent with
    # widen_field — StructType.add alone only accepts JSON names
    parsed = T._parse_datatype_string(dtype)

    def edit(st: T.StructType) -> T.StructType:
        if leaf in st.fieldNames():
            raise ValidationError(f"field {path!r} already exists")
        # NOT st.add(...): StructType.add MUTATES self and returns it, so
        # the caller's input schema would silently grow the field too —
        # build a fresh StructType like every other edit here
        return T.StructType(
            list(st.fields) + [T.StructField(leaf, parsed, True)]
        )

    return _rebuild_at(schema, parent, edit)  # type: ignore[return-value]


def drop_field(schema: T.StructType, path: str) -> T.StructType:
    parent, leaf = _split(path)

    def edit(st: T.StructType) -> T.StructType:
        if leaf not in st.fieldNames():
            raise ValidationError(f"no field {path!r}")
        kept = [f for f in st.fields if f.name != leaf]
        if not kept:
            raise ValidationError(f"cannot drop last field of struct at {path!r}")
        return T.StructType(kept)

    return _rebuild_at(schema, parent, edit)  # type: ignore[return-value]


def rename_field(schema: T.StructType, path: str, new: str) -> T.StructType:
    parent, leaf = _split(path)
    if "." in new or not new:
        raise ValidationError(f"invalid field name {new!r}")

    def edit(st: T.StructType) -> T.StructType:
        if leaf not in st.fieldNames():
            raise ValidationError(f"no field {path!r}")
        if new in st.fieldNames():
            raise ValidationError(f"field {new!r} already exists beside {path!r}")
        return T.StructType(
            [
                T.StructField(new, f.dataType, f.nullable, f.metadata) if f.name == leaf else f
                for f in st.fields
            ]
        )

    return _rebuild_at(schema, parent, edit)  # type: ignore[return-value]


_DECIMAL_RE = re.compile(r"^decimal\((\d+),(\d+)\)$")


def _widening_ok(cur: str, new: str) -> bool:
    if (cur, new) in WIDENINGS:
        return True
    # Iceberg's decimal rule (spec §Schema Evolution, reference
    # SchemaEvolution.java): precision may grow, scale is frozen
    mc, mn = _DECIMAL_RE.match(cur), _DECIMAL_RE.match(new)
    if mc and mn:
        return int(mn.group(2)) == int(mc.group(2)) and int(mn.group(1)) >= int(
            mc.group(1)
        )
    return False


def widen_field(schema: T.StructType, path: str, dtype: str) -> T.StructType:
    parent, leaf = _split(path)
    # normalize the requested type to simpleString form so textual DDL
    # spellings ("DECIMAL(20, 0)") compare against the table
    dtype = T._parse_datatype_string(dtype).simpleString()

    def edit(st: T.StructType) -> T.StructType:
        if leaf not in st.fieldNames():
            raise ValidationError(f"no field {path!r}")
        cur = st[leaf].dataType.simpleString()
        if not _widening_ok(cur, dtype):
            raise ValidationError(f"cannot widen {path}: {cur} → {dtype}")
        return T.StructType(
            [
                T.StructField(f.name, T._parse_datatype_string(dtype), f.nullable, f.metadata)
                if f.name == leaf
                else f
                for f in st.fields
            ]
        )

    return _rebuild_at(schema, parent, edit)  # type: ignore[return-value]


def rekey_renamed(field_ids: dict[str, int], old_path: str, new_path: str) -> dict[str, int]:
    """Move ``old_path`` (and every descendant path) to ``new_path``,
    preserving IDs — rename keeps identity."""
    out = {}
    pfx = old_path + "."
    for p, fid in field_ids.items():
        if p == old_path:
            out[new_path + p[len(old_path):]] = fid
        elif p.startswith(pfx):
            out[new_path + "." + p[len(pfx):]] = fid
        else:
            out[p] = fid
    return out


def drop_keys(field_ids: dict[str, int], path: str) -> dict[str, int]:
    pfx = path + "."
    return {p: i for p, i in field_ids.items() if p != path and not p.startswith(pfx)}


# ------------------------------------------------------------- read plan


class FileTypesNeeded(Exception):
    """Raised during planning when a struct's declared children all
    postdate a file: reading back per-row struct nullness requires one
    surviving file-side leaf, whose physical type is not in the manifest
    (only path→ID is stamped).  The caller reads the parquet footer(s)
    and re-plans with ``file_types``.  Rare path: only zero-overlap
    structs (add-then-drop-everything histories) hit it."""

    def __init__(self, file_path: str):
        super().__init__(
            f"file-side types needed to carry struct nullness at {file_path!r}"
        )
        self.file_path = file_path


def parquet_file_types(path: str) -> dict[str, "T.DataType"]:
    """Footer-only probe: dotted file-side path → Spark DataType for every
    struct field in the file (arrays descend ``.element``, maps
    ``.key``/``.value`` — same convention as ``iter_struct_paths``).
    Driver-side, metadata-only; invoked only for zero-overlap groups."""
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import from_arrow_type

    arrow = pq.read_schema(path)
    spark_schema = T.StructType(
        [
            T.StructField(f.name, from_arrow_type(f.type, prefer_timestamp_ntz=True), f.nullable)
            for f in arrow
        ]
    )
    out: dict[str, T.DataType] = {}

    def walk(dtype: T.DataType, prefix: str) -> None:
        if isinstance(dtype, T.StructType):
            for f in dtype.fields:
                p = f"{prefix}.{f.name}" if prefix else f.name
                out[p] = f.dataType
                walk(f.dataType, p)
        elif isinstance(dtype, T.ArrayType):
            walk(dtype.elementType, f"{prefix}.element")
        elif isinstance(dtype, T.MapType):
            walk(dtype.keyType, f"{prefix}.key")
            walk(dtype.valueType, f"{prefix}.value")

    walk(spark_schema, "")
    return out


# cheapest-leaf preference for the nullness carrier (read cost rank)
_CARRIER_COST = {
    "boolean": 1, "tinyint": 1, "smallint": 2, "int": 4, "date": 4,
    "float": 4, "bigint": 8, "double": 8, "timestamp": 8,
    "timestamp_ntz": 8, "string": 20, "binary": 20,
}


def _carrier_cost(dtype: "T.DataType | None") -> int:
    if dtype is None:
        return 1_000_000
    return _CARRIER_COST.get(dtype.simpleString(), 100)


def plan_file_group(
    schema: T.StructType,
    field_ids: dict[str, int],
    file_ids: dict[str, int],
    paths: list[str],
) -> list[tuple[T.StructType, list[Column], list[str]]]:
    """Plan one file group, transparently re-planning with footer-derived
    physical types when a zero-overlap struct needs a nullness carrier
    (see ``FileTypesNeeded``).  Sub-splits the group per distinct physical
    schema so pre/post-widen files each get a correctly-typed carrier.
    Returns ``[(read_schema, select_cols, subgroup_paths)]``."""
    plan = _typeless_read_plan(
        schema, tuple(sorted(field_ids.items())), tuple(sorted(file_ids.items())))
    if plan is not None:
        return [(plan[0], list(plan[1]), list(paths))]
    by_types: dict[tuple, tuple[dict, list[str]]] = {}
    for p in paths:
        ft = parquet_file_types(p)
        tk = tuple(sorted((k, v.simpleString()) for k, v in ft.items()))
        by_types.setdefault(tk, (ft, []))[1].append(p)
    out = []
    for ft, fpaths in by_types.values():
        rs, sc = build_read_plan(schema, field_ids, file_ids, ft)
        out.append((rs, sc, fpaths))
    return out


@functools.lru_cache(maxsize=READ_PLAN_CACHE_CAP)
def _typeless_read_plan(
    schema: T.StructType,
    field_ids: tuple[tuple[str, int], ...],
    file_ids: tuple[tuple[str, int], ...],
) -> tuple[T.StructType, tuple[Column, ...]] | None:
    """``build_read_plan`` without footer types, or None when the group
    needs them.  Built once per (schema, field IDs, file stamp): the
    projection costs a few py4j calls per column, and its unresolved
    Columns serve any number of scans."""
    try:
        rs, sc = build_read_plan(schema, dict(field_ids), dict(file_ids))
    except FileTypesNeeded:
        return None
    return rs, tuple(sc)


def build_read_plan(
    schema: T.StructType,
    field_ids: dict[str, int],
    file_ids: dict[str, int],
    file_types: dict[str, "T.DataType"] | None = None,
) -> tuple[T.StructType, list[Column]]:
    """Plan one file-group's scan: the parquet read schema in the file's
    own (write-time) names/shape, and the projection rebuilding it into
    the current declared schema.  Resolution is by field ID throughout;
    a declared field absent from the file NULL-fills; a renamed field
    reads under its file-time name and re-aliases; widened leaves take
    the declared type in the read schema (parquet upcasts).

    Files written before nested-ID tracking carry only top-level entries;
    for those, any struct column falls back to name-matched reads with
    the declared type (safe: Table.rename_column refuses nested renames
    and Table.add_column refuses resurrecting nested adds while such
    files are live)."""
    id_to_fpath = {fid: p for p, fid in file_ids.items()}
    read_fields: list[T.StructField] = []
    selects: list[Column] = []
    for f in schema.fields:
        fid = field_ids.get(f.name)
        fpath = id_to_fpath.get(fid) if fid is not None else None
        if fpath is None:
            selects.append(F.lit(None).cast(f.dataType).alias(f.name))
            continue
        rtype, build, changed = _resolve(
            f.dataType, f.name, fpath, field_ids, id_to_fpath, file_ids, file_types
        )
        read_fields.append(T.StructField(fpath, rtype, True))
        col = F.col(f"`{fpath}`")
        selects.append((build(col) if changed else col).alias(f.name))
    return T.StructType(read_fields), selects


def _resolve(
    decl: T.DataType,
    cur_path: str,
    file_path: str,
    field_ids: dict[str, int],
    id_to_fpath: dict[int, str],
    file_ids: dict[str, int],
    file_types: dict[str, "T.DataType"] | None = None,
) -> tuple[T.DataType, Callable[[Column], Column], bool]:
    """Returns (read_type, builder, changed): ``read_type`` is the type to
    request from parquet (file-time names, declared/widened leaf types);
    ``builder`` rebuilds a column of ``read_type`` into ``decl``;
    ``changed`` is False when the identity projection suffices."""
    if isinstance(decl, T.StructType):
        child_pfx = file_path + "."
        if not any(p.startswith(child_pfx) for p in file_ids):
            # pre-nested-tracking file (or empty mapping): name-matched
            # legacy read with the declared shape
            return decl, _identity, False
        subs: list[tuple[T.StructField, str | None, Callable[[Column], Column], bool]] = []
        read_subs: list[T.StructField] = []
        changed = False
        for sub in decl.fields:
            sub_cur = f"{cur_path}.{sub.name}"
            sfid = field_ids.get(sub_cur)
            sub_fpath = id_to_fpath.get(sfid) if sfid is not None else None
            if sub_fpath is None or not sub_fpath.startswith(child_pfx):
                subs.append((sub, None, _identity, False))
                changed = True  # NULL-fill
                continue
            fname = sub_fpath[len(child_pfx):]
            s_rtype, s_build, s_changed = _resolve(
                sub.dataType, sub_cur, sub_fpath, field_ids, id_to_fpath, file_ids,
                file_types,
            )
            read_subs.append(T.StructField(fname, s_rtype, True))
            subs.append((sub, fname, s_build, s_changed))
            changed = changed or s_changed or fname != sub.name
        if not read_subs:
            # Empty overlap: every declared child postdates this file, but
            # the struct itself was written (its file children just retired).
            # A struct that was non-NULL at write time must read back as a
            # struct of NULLs, not NULL (reference rebuilds element-wise,
            # sql/SchemaEvolution.java:511-587) — so read ONE surviving
            # file child, cheapest first, purely to carry per-row struct
            # nullness, then project
            # when(isNotNull, struct(<typed NULLs>)).otherwise(NULL).
            if file_types is None:
                raise FileTypesNeeded(file_path)
            direct = [
                p for p in file_ids
                if p.startswith(child_pfx) and "." not in p[len(child_pfx):]
            ]
            carrier = min(direct, key=lambda p: _carrier_cost(file_types.get(p)))
            if carrier not in file_types:
                raise FileTypesNeeded(file_path)
            carrier_name = carrier[len(child_pfx):]
            read_type = T.StructType(
                [T.StructField(carrier_name, file_types[carrier], True)]
            )

            def build_nulls(c: Column) -> Column:
                return F.when(
                    c.isNotNull(),
                    F.struct(
                        *[
                            F.lit(None).cast(s.dataType).alias(s.name)
                            for s in decl.fields
                        ]
                    ),
                ).otherwise(F.lit(None).cast(decl))

            return read_type, build_nulls, True
        read_type = T.StructType(read_subs)
        if not changed:
            return read_type, _identity, False

        def build(c: Column) -> Column:
            parts = []
            for sub, fname, s_build, _s_changed in subs:
                if fname is None:
                    parts.append(F.lit(None).cast(sub.dataType).alias(sub.name))
                else:
                    parts.append(s_build(c.getField(fname)).alias(sub.name))
            # preserve struct-level NULLs: rebuilding a NULL struct must
            # not yield a non-null struct of NULL fields
            return F.when(c.isNotNull(), F.struct(*parts)).otherwise(
                F.lit(None).cast(decl)
            )

        return read_type, build, True

    if isinstance(decl, T.ArrayType):
        e_rtype, e_build, e_changed = _resolve(
            decl.elementType, f"{cur_path}.element", f"{file_path}.element",
            field_ids, id_to_fpath, file_ids, file_types,
        )
        read_type = T.ArrayType(e_rtype, decl.containsNull)
        if not e_changed:
            return read_type, _identity, False
        return read_type, (lambda c: F.transform(c, e_build)), True

    if isinstance(decl, T.MapType):
        k_rtype, k_build, k_changed = _resolve(
            decl.keyType, f"{cur_path}.key", f"{file_path}.key",
            field_ids, id_to_fpath, file_ids, file_types,
        )
        v_rtype, v_build, v_changed = _resolve(
            decl.valueType, f"{cur_path}.value", f"{file_path}.value",
            field_ids, id_to_fpath, file_ids, file_types,
        )
        read_type = T.MapType(k_rtype, v_rtype, decl.valueContainsNull)
        if not (k_changed or v_changed):
            return read_type, _identity, False

        def build(c: Column) -> Column:
            out = c
            if k_changed:
                out = F.transform_keys(out, lambda k, _v: k_build(k))
            if v_changed:
                out = F.transform_values(out, lambda _k, v: v_build(v))
            return out

        return read_type, build, True

    # leaf: declared (possibly widened) type wins; parquet upcasts
    return decl, _identity, False


def _identity(c: Column) -> Column:
    return c
