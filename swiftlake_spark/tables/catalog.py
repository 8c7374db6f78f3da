"""Directory catalog: ``warehouse/<db>/<table>`` with time-travel name sugar.

Counterpart of the reference's hadoop-catalog usage plus its table-name
grammar — ``db.t$timestamp_<epoch_ms>``, ``$snapshot_<id>``,
``$branch_<name>``, ``$tag_<name>`` (sql/SqlQueryProcessor.java:371-402,
sql/TimeTravelOptions.java:24-45, README.md:744-757).
"""

from __future__ import annotations

import os
import re
import uuid
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from swiftlake_spark.tables.metadata import (
    TableMetadata,
    load_metadata,
    write_new_version,
)
from swiftlake_spark.tables.table import Table
from swiftlake_spark import fileio as _io
from swiftlake_spark.tables.transforms import parse_spec

_SUFFIX_RE = re.compile(
    r"^(?P<base>[\w.]+?)(?:\$(?P<kind>timestamp|snapshot|branch|tag)_(?P<arg>[\w.:+-]+))?$"
)


# join-filter pushdown collects at most this many distinct keys of the
# other side (the reference's IN-list scale); beyond it the edge is dropped
JOIN_FILTER_MAX_KEYS = 200


def _timestamp_arg_ms(arg: str) -> int:
    """``$timestamp_`` argument → epoch ms.  Two spellings: bare digits
    are epoch milliseconds; anything else parses as ISO-8601 — the
    reference's own form (README.md:743 ``$timestamp_1986-10-26T01:21:00``,
    sql/SqlQueryProcessor.java:371-402).  Naive timestamps are UTC (the
    engine pins the session zone to UTC, config A28); an explicit offset
    is honored."""
    if arg.isdigit():
        return int(arg)
    import datetime as _dt

    try:
        ts = _dt.datetime.fromisoformat(arg)
    except ValueError:
        raise ValueError(
            f"bad $timestamp_ argument {arg!r}: epoch ms or ISO-8601"
        ) from None
    if ts.tzinfo is None:
        ts = ts.replace(tzinfo=_dt.timezone.utc)
    return int(ts.timestamp() * 1000)


class Catalog:
    def __init__(
        self, spark: SparkSession, warehouse: str, guard=None,
        metric_collectors=None,
    ) -> None:
        self.spark = spark
        # remote warehouses (fileio schemes, e.g. mem://) keep their URI;
        # file:// is the LOCAL filesystem — normalize it to a plain path
        # so the write path (which treats file:// as local) and the
        # metadata path agree on one root; bare paths become absolute
        if warehouse.startswith("file://"):
            warehouse = warehouse[len("file://"):]
        self.warehouse = warehouse if "://" in warehouse else os.path.abspath(warehouse)
        self.guard = guard  # plans.guards.ScanGuard | None, applied to scans
        # engine-owned shared list of callables (plans.metrics.dispatch
        # targets); passed by REFERENCE into every Table so collectors
        # registered later still observe existing handles
        self.metric_collectors = metric_collectors if metric_collectors is not None else []
        if "://" not in self.warehouse:
            os.makedirs(self.warehouse, exist_ok=True)

    # ------------------------------------------------------------- ddl
    def create_table(
        self,
        name: str,
        schema: T.StructType | str,
        partition_spec: list[str] | None = None,
        sort_order: list[str] | None = None,
        properties: dict[str, str] | None = None,
    ) -> Table:
        """``name`` is ``db.table``; ``partition_spec`` uses Spark-DDL
        transform terms (``bucket(16, c)``, ``days → day(c)`` etc.);
        ``sort_order`` items are ``"col [ASC|DESC] [NULLS FIRST|LAST]"``.

        DDL strings may use the logical types ``UUID`` and ``TIME``
        (which Spark lacks): they map to STRING (canonical lowercase
        8-4-4-4-12 form) and BIGINT (micros since midnight) physical
        columns — the reference's own mappings
        (sql/SchemaEvolution.java:478,484) — and the logical type is
        recorded as a ``logical-type.<col>`` table property.  Helpers in
        :mod:`swiftlake_spark.functions` produce/render both forms."""
        logical: dict[str, str] = {}
        if isinstance(schema, str):
            parts = []
            for coldef in schema.split(","):
                toks = coldef.strip().split()
                # match 'col UUID' with or without trailing constraint
                # tokens (NOT NULL, COMMENT ...) — a 2-token-only check
                # broke the documented logical types on any constraint
                if len(toks) >= 2 and toks[1].upper() in ("UUID", "TIME"):
                    logical[toks[0]] = toks[1].lower()
                    toks[1] = {"UUID": "STRING", "TIME": "BIGINT"}[toks[1].upper()]
                parts.append(" ".join(toks))
            schema = T.StructType.fromDDL(", ".join(parts))
        location = self._location(name)
        if _io.fileio_for(location).list(_io.join(location, "metadata")):
            raise ValueError(f"table {name} already exists")
        if "://" not in location:
            os.makedirs(os.path.join(location, "data"), exist_ok=True)
        spec = [
            {"name": t.name, "source": t.source, "param": t.param}
            for t in (parse_spec(s) for s in (partition_spec or []))
        ]
        for d in spec:
            if d["source"] not in schema.fieldNames():
                raise ValueError(f"partition source column {d['source']!r} not in schema")
        parsed_sort = [_parse_sort(x) for x in (sort_order or [])]
        for d in parsed_sort:
            if d["col"] not in schema.fieldNames():
                raise ValueError(f"sort column {d['col']!r} not in schema")
        meta = TableMetadata(
            table_uuid=uuid.uuid4().hex,
            location=location,
            schema_json=schema.jsonValue(),
            partition_spec=spec,
            sort_order=parsed_sort,
            properties={
                **{f"logical-type.{c}": t for c, t in logical.items()},
                **(properties or {}),
            },
            snapshots=[],
            refs={},
            version=0,
        )
        # v1 is the create (version counter starts at 0 → claim v1)
        write_new_version(meta)
        return self._table(meta)

    def drop_table(self, name: str) -> None:
        loc = self._location(name)
        from swiftlake_spark.catalog_service import default_catalog_service

        default_catalog_service().drop(loc)
        io = _io.fileio_for(loc)
        if "://" in loc:
            for rel in io.list_recursive(loc):
                io.delete(_io.join(loc, rel))
            return
        import shutil

        shutil.rmtree(loc)

    def table_exists(self, name: str) -> bool:
        try:
            loc = self._location(name)
        except ValueError:
            # a name that doesn't parse as db.table is simply not a
            # lakehouse table (engine.sql uses this to route DML)
            return False
        return bool(_io.fileio_for(loc).list(_io.join(loc, "metadata")))

    def list_tables(self) -> list[str]:
        io = _io.fileio_for(self.warehouse)
        out = []
        for db in io.list(self.warehouse):
            dbdir = _io.join(self.warehouse, db)
            if "://" not in dbdir and not os.path.isdir(dbdir):
                continue
            for t in io.list(dbdir):
                if io.list(_io.join(dbdir, t, "metadata")):
                    out.append(f"{db}.{t}")
        return out

    # ------------------------------------------------------------- read
    def table(self, name: str) -> Table:
        base, _, _ = self._parse_name(name)
        return self._table(load_metadata(self._location(base)))

    def _table(self, meta: TableMetadata) -> Table:
        return Table(self.spark, meta, guard=self.guard,
                     metric_collectors=self.metric_collectors)

    def load(self, name: str, filter=None, *, filter_rows: bool = True) -> DataFrame:
        """Load a table as a DataFrame, honoring time-travel suffixes."""
        base, _, _ = self._parse_name(name)
        return self._scan(load_metadata(self._location(base)), name, filter,
                          filter_rows=filter_rows)

    def _scan(self, meta: TableMetadata, name: str, filter=None, *,
              filter_rows: bool = True) -> DataFrame:
        """:meth:`load` on an already-loaded ``meta`` of ``name``'s base
        table, so one caller can plan several scans on one snapshot."""
        _, kind, arg = self._parse_name(name)
        t = self._table(meta)
        kwargs: dict[str, Any] = {"filter_rows": filter_rows}
        if kind == "timestamp":
            kwargs["as_of_ms"] = _timestamp_arg_ms(arg)
        elif kind == "snapshot":
            kwargs["snapshot_id"] = int(arg)
        elif kind == "branch":
            kwargs["branch"] = arg
        elif kind == "tag":
            kwargs["tag"] = arg
        return t.scan(filter, **kwargs)

    # -------------------------------------------------------------- sql
    def resolve_sql(self, sql: str, root=None) -> tuple[str, dict[str, DataFrame]]:
        """Turn ``db.table[$suffix]`` references into per-query relations:
        returns ``(template, frames)`` for ``spark.sql(template, **frames)``.
        Each reference becomes a ``{tN}`` placeholder naming a DataFrame in
        ``frames``, and every other brace is doubled.  PySpark registers
        the frames under uuid names only while the statement is analysed,
        so no two queries share a relation and nothing outlives the call.
        Without a lakehouse reference the text is returned untouched with
        no frames (``spark.sql`` formats only when given frames).

        Spark's parser finds the references: the statement is parsed once
        (or ``root`` is that parse, as ``engine.sql`` passes it) and its
        plan walked (tables/sqlextract.py; ≙
        SqlQueryProcessor.java:130-236, which extracts per-table
        conditions with JSqlParser before planning file lists).  A
        reference is an unresolved relation, or a ``db.t.col``/``db.t.*``
        qualifier, naming a lakehouse table; Spark's ``TIMESTAMP/VERSION
        AS OF`` is read as the matching ``$suffix``.  Each relation's
        manifest is pruned with the WHERE and inner-join ON conjuncts
        provably local to that table.  Catalyst does all real analysis;
        extraction only shrinks the file list (never re-applied to rows —
        filter_rows=False), so a skipped or unparseable conjunct costs
        pruning, not correctness.  A statement Spark cannot parse comes
        back untouched, and ``spark.sql`` reports the error.

        Each base table's metadata is loaded once per call and feeds its
        schema, record count and every scan of it, so the whole query
        plans against one snapshot even while other handles commit."""
        from swiftlake_spark.dml.sqlfilter import parse_filter
        from swiftlake_spark.tables import expressions as E
        from swiftlake_spark.tables.sqlextract import analyze

        exists_cache: dict[str, bool] = {}

        def _exists(base: str) -> bool:
            if base not in exists_cache:
                try:
                    exists_cache[base] = self.table_exists(base)
                except Exception:
                    exists_cache[base] = False
            return exists_cache[base]

        metas: dict[str, TableMetadata] = {}

        def _meta_of(base: str) -> TableMetadata:
            if base not in metas:
                metas[base] = load_metadata(self._location(base))
            return metas[base]

        struct_cache: dict[str, T.StructType | None] = {}

        def _struct_of(base: str) -> T.StructType | None:
            if base not in struct_cache:
                try:
                    struct_cache[base] = T.StructType.fromJson(
                        _meta_of(base).schema_json)
                except Exception:
                    struct_cache[base] = None
            return struct_cache[base]

        def _columns_of(name: str) -> set[str] | None:
            base = name.split("$")[0]
            if "." in base and _exists(base):
                st = _struct_of(base)
                return {f.name for f in st.fields} if st is not None else None
            try:
                return {f.name for f in self.spark.table(name).schema.fields}
            except Exception:
                return None

        infos, quals = analyze(self.spark, sql, _columns_of, _exists, root)
        if not infos and not quals:
            return sql, {}

        # Filters are only safe per relation when no table-name qualifier
        # names the table; with exactly one relation the qualifiers denote
        # that same instance and share its frame; several relations plus a
        # qualifier fall back to one shared unpruned relation.
        # groups: (ref, info, spans).
        by_ref: dict[str, tuple[list, list]] = {}
        for info in infos:
            by_ref.setdefault(info.ref, ([], []))[0].append(info)
        for ref, span in quals:
            by_ref.setdefault(ref, ([], []))[1].append(span)
        groups: list[tuple[str, Any, list]] = []
        for ref, (rels, qs) in by_ref.items():
            if not qs:
                groups += [(ref, info, [info.span]) for info in rels]
            elif len(rels) == 1:
                groups.append((ref, rels[0], [rels[0].span, *qs]))
            else:
                groups.append((ref, None, [i.span for i in rels] + qs))

        def _conjuncts(info) -> list[tuple[str, Any]]:
            """``info``'s parseable conjuncts as (text, expression)."""
            if info is None:
                return []
            st = _struct_of(info.ref.split("$")[0])
            out = []
            for c in info.conjuncts:
                try:
                    out.append((c, parse_filter(c, st)))
                except Exception:  # unparseable conjunct → skip it
                    pass
            return out

        base_frames: dict[tuple[str, str], DataFrame] = {}

        def _frame(ref: str, info, extra=()) -> DataFrame:
            """``ref``'s scan pruned by ``info``'s conjuncts and the
            ``extra`` expressions; unstrengthened scans are shared."""
            parsed = _conjuncts(info)
            exprs = [e for _, e in parsed] + list(extra)
            key = (ref, " AND ".join(c for c, _ in parsed))
            if not extra and key in base_frames:
                return base_frames[key]
            df = self._scan(_meta_of(ref.split("$")[0]), ref,
                            E.and_(*exprs) if exprs else None, filter_rows=False)
            if not extra:
                base_frames[key] = df
            return df

        # ---- join-filter pushdown (README "Joining with a filter
        # table"): an inner-join equi edge lets this table's manifest be
        # pruned by the OTHER side's distinct key set.  The keys are
        # collected from the other side's PRUNE-ONLY relation (a superset
        # of its true rows — sound) or, for plain Spark relations, the
        # raw view; collection is bounded by JOIN_FILTER_MAX_KEYS and
        # abandoned beyond it.  Like the base extraction this only
        # shrinks file lists; rows still come from the original SQL.  An
        # IN set only prunes files when the key's values are confined per
        # file — a partition source column (partition values) or the
        # leading sort column (narrow min/max) — so any other edge is
        # skipped from the metadata alone, before a Spark job is spent on
        # its keys.
        cap = JOIN_FILTER_MAX_KEYS
        records_cache: dict[str, int] = {}

        def _prunes_on(base: str, col: str) -> bool:
            meta = _meta_of(base)
            keys = [d["source"] for d in meta.partition_spec]
            keys += [d["col"] for d in meta.sort_order[:1]]
            return col.lower() in {k.lower() for k in keys}

        def _records_of(base: str) -> int:
            if base not in records_cache:
                try:
                    meta = _meta_of(base)
                    records_cache[base] = sum(
                        e.records
                        for e in meta.read_manifest(meta.current_snapshot())
                    )
                except Exception:  # noqa: BLE001
                    records_cache[base] = 1 << 62
            return records_cache[base]

        def _join_filters(info) -> list:
            out = []
            for my_col, other_name, oinfo, other_col in info.equi:
                try:
                    if not _prunes_on(info.ref.split("$")[0], my_col):
                        continue
                    if oinfo is not None:
                        # an UNFILTERED lakehouse other side offers its
                        # full key domain — only worth collecting when the
                        # table itself is tiny (a true dim, per its
                        # manifest record count); otherwise the IN set
                        # can't beat the base prune and the distinct job
                        # is wasted
                        if (not oinfo.conjuncts
                                and _records_of(oinfo.ref.split("$")[0]) > cap * 50):
                            continue
                        # its extracted conjuncts (implied by the real
                        # WHERE) row-filter the KEY COLLECTION so the key
                        # set reflects the dim's selectivity — still a
                        # superset of the join-reachable keys
                        odf = _frame(oinfo.ref, oinfo)
                        for _, e in _conjuncts(oinfo):
                            odf = odf.where(e.column())
                    elif other_name is not None and "." not in other_name:
                        odf = self.spark.table(other_name)
                    else:
                        continue
                    rows = (
                        odf.select(other_col)
                        .where(F.col(other_col).isNotNull())
                        .distinct().limit(cap + 1).collect()
                    )
                    if len(rows) <= cap:
                        out.append(E.in_(my_col, [r[0] for r in rows]))
                except Exception:  # noqa: BLE001 — pushdown is best-effort
                    continue
            return out

        frames: dict[str, DataFrame] = {}
        names: dict[tuple[int, int], str] = {}
        for ref, info, spans in groups:
            extra = _join_filters(info) if info is not None else ()
            name = f"t{len(frames)}"
            frames[name] = _frame(ref, info, extra)
            names.update((s, name) for s in spans)

        def _escape(text: str) -> str:
            return text.replace("{", "{{").replace("}", "}}")

        out, last = [], 0
        for (lo, hi), name in sorted(names.items()):
            out.append(_escape(sql[last:lo]))
            out.append("{" + name + "}")
            last = hi
        out.append(_escape(sql[last:]))
        return "".join(out), frames

    # ----------------------------------------------------------- helpers
    def _location(self, name: str) -> str:
        parts = name.split(".")
        if len(parts) != 2:
            raise ValueError(f"table name must be db.table, got {name!r}")
        return _io.join(self.warehouse, *parts)

    @staticmethod
    def _parse_name(name: str) -> tuple[str, str | None, str | None]:
        m = _SUFFIX_RE.match(name)
        if not m:
            raise ValueError(f"bad table name {name!r}")
        return m.group("base"), m.group("kind"), m.group("arg")


def _parse_sort(s: str) -> dict:
    toks = s.split()
    col = toks[0]
    asc = True
    nulls_first: bool | None = None
    up = [t.upper() for t in toks[1:]]
    if "DESC" in up:
        asc = False
    if "NULLS" in up:
        i = up.index("NULLS")
        if i + 1 >= len(up) or up[i + 1] not in ("FIRST", "LAST"):
            raise ValueError(f"bad sort term {s!r}: NULLS needs FIRST|LAST")
        nulls_first = up[i + 1] == "FIRST"
    if nulls_first is None:
        nulls_first = asc
    return {"col": col, "asc": asc, "nulls_first": nulls_first}
