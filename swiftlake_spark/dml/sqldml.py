"""SQL DML + DDL statements through ``engine.sql``.

The reference exposes DML only through fluent builders
(SwiftLakeEngine.java — update/delete/applyChangesAsSCD*); its SQL
surface is read-only DuckDB passthrough (README.md:723-727).  This
module extends the Spark engine's ``sql()`` so the statement forms a
real user expects also work textually:

- ``INSERT INTO db.t [(cols)] SELECT ...`` / ``VALUES (...), (...)``
- ``UPDATE db.t [[AS] a] SET a = <expr>, b = <expr> [WHERE <cond>]``
  (no WHERE → every row, standard SQL)
- ``DELETE FROM db.t [[AS] a] [WHERE <cond>]`` (no WHERE →
  metadata-only truncate)
- ``MERGE INTO db.t [AS] t USING (<query>)|<name> [AS] s
  ON t.k = s.k [AND t.bound = 'x' ...] [AND s.active = 1 ...]
  WHEN MATCHED [AND <cond>] THEN UPDATE SET a = <expr>, ... | DELETE
  WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
    INSERT [*|(cols) VALUES (exprs)]
  WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET ... | DELETE``
  (SQL:2016, the WHEN clauses in this order as Spark's grammar
  requires; ``ON`` key ``=`` is null-rejecting per standard SQL —
  NULL-keyed rows classify NOT MATCHED on both sides; the builder's
  ``null_safe_keys()`` default stays a builder-only opt-in)
- ``CREATE TABLE [IF NOT EXISTS] db.t (<ddl>)|[AS <query>]
  [USING swiftlake] [PARTITIONED BY (<spec>, ...)] [SORTED BY (...)]``
  (CTAS infers the schema and inserts in the same call;
  ``USING swiftlake`` is the explicit routing marker — required only
  for the FIRST table of a new database, where no routing evidence
  exists yet)
- ``DROP TABLE [IF EXISTS] db.t``
- ``ALTER TABLE db.t ADD COLUMN[S] ... | DROP COLUMN ... |
  RENAME COLUMN a TO b | ALTER COLUMN c TYPE <t>`` (widen only)

The DML grammar is Spark's: ``engine.sql`` parses each statement once
(tables/sqlextract.py ``parse``), and a root ``InsertIntoStatement``,
``UpdateTable``, ``DeleteFromTable`` or ``MergeIntoTable`` whose target
is a lakehouse table (``dml_table``) runs through its builder
(dml/insert.py, update.py, delete.py, merge.py), so COW rewrite,
manifest pruning, conflict detection and snapshot commit behave exactly
as the builder API.  Names come from the plan; only values, conditions
and source queries are sliced from the text (``expr_text``), because an
``Assignment``, a MERGE action and a MERGE alias have origins wider than
their own text.  Statements Spark cannot parse, and DML on Spark-native
relations, pass through to ``spark.sql``.  Outside the supported subset
a ValidationError gives the reason, never a silent misread.

DDL stays on text (``ddl_route``): Spark's parser rejects our CREATE
and ALTER grammar (``PARTITIONED BY (cat) SORTED BY (id)`` is a
PARSE_SYNTAX_ERROR; ``UUID``/``NOTATYPE`` fail as UNSUPPORTED_DATATYPE
before the catalog can name the bad type).

MERGE ON-clause subset (sound by construction):

- conjuncts of the form ``t.k = s.k`` become join keys
  (differing column names rename the source side);
- conjuncts referencing ONLY the target (plain comparisons) become the
  boundary filter — manifest prune + match gating via
  ``filter_source(False)``: unmatched source rows still insert, and
  out-of-boundary target rows are scoped OUT of the merge entirely
  (they do not walk NOT MATCHED BY SOURCE — the engine's documented
  boundary contract, which is what keeps the rewrite manifest-pruned);
- conjuncts touching the source (source-only, mixed target/source,
  nested field paths, function calls) become ``match_condition``
  residuals — standard match gating: a failing pair does not match, so
  the source row stays insert-eligible and the target row walks NOT
  MATCHED BY SOURCE;
- conjuncts with identifiers of unknown provenance are rejected:
  guessing a side would silently change NOT-MATCHED classification.

Statement result: a one-row DataFrame ``(operation, snapshot_id)`` —
the commit receipt, mirroring how the builders return the Snapshot.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from swiftlake_spark.dml.scd_common import require
from swiftlake_spark.dml.sqlfilter import parse_filter
from swiftlake_spark.tables import expressions as E
from swiftlake_spark.tables.metadata import ValidationError
from swiftlake_spark.tables.sqlextract import (
    _Node, expr_text, name_parts, quote_ident, split_and,
)


def mask_literals(sql: str) -> str:
    """Same-length copy with every quoted literal's content turned to
    'x' runs — positions line up with the original, and literal text can
    no longer fake keywords, refs, or parens."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(
        p if i % 2 == 0 else "'" + "x" * (len(p) - 2) + "'"
        for i, p in enumerate(parts)
    )


def _receipt(spark, operation: str, snapshot) -> DataFrame:
    sid = getattr(snapshot, "snapshot_id", None)
    return spark.createDataFrame(
        [(operation, sid)], "operation string, snapshot_id bigint"
    )


# ----------------------------------------------------------------- DDL


_DDL_CREATE = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
    re.IGNORECASE,
)
_DDL_DROP = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<if_exists>IF\s+EXISTS\s+)?"
    r"(?P<name>[A-Za-z_][\w.]*)(?P<rest>.*)$",
    re.IGNORECASE | re.DOTALL,
)
_DDL_ALTER = re.compile(
    r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)", re.IGNORECASE
)


def ddl_route(engine, sql: str) -> bool:
    """Should this statement run as LAKEHOUSE DDL?  Conservative: the
    ambiguity is real (a 2-part name could also be a Spark-catalog
    table), so route only on positive evidence and let everything else
    pass through to spark.sql:

    - ``DROP TABLE [IF EXISTS] name`` / ``ALTER TABLE name ...`` — iff
      ``name`` IS a lakehouse table right now.
    - ``CREATE TABLE [IF NOT EXISTS] db.t ...`` — iff the statement has
      no ``USING <provider>`` clause (ours never does, Spark-native DDL
      conventionally does) AND db already holds at least one lakehouse
      table (or db.t itself exists, for the IF NOT EXISTS no-op).  The
      FIRST table of a new database goes through
      ``catalog.create_table`` — documented in the grammar docstring.
    """
    m = _DDL_DROP.match(sql)
    if m:
        return engine.catalog.table_exists(m.group("name"))
    m = _DDL_ALTER.match(sql)
    if m:
        return engine.catalog.table_exists(m.group(1))
    m = _DDL_CREATE.match(sql)
    if not m:
        return False
    name = m.group(1)
    # a provider clause can only appear BEFORE the CTAS's AS — scoping
    # the check there keeps `JOIN ... USING (k)` inside the AS query
    # from masquerading as `USING parquet`
    head = re.split(r"\bAS\b", mask_literals(sql), maxsplit=1, flags=re.IGNORECASE)[0]
    mu = re.search(r"\bUSING\s+([A-Za-z_][\w]*)", head, re.IGNORECASE)
    if mu:
        # ``USING swiftlake`` is the explicit opt-in marker — it routes
        # unconditionally, which is also how the FIRST table of a new
        # database is created textually; any other provider is
        # Spark-native DDL and passes through
        return mu.group(1).lower() == "swiftlake"
    if "." not in name:
        return False
    if engine.catalog.table_exists(name):
        return True
    db = name.split(".", 1)[0]
    if not any(t.startswith(db + ".") for t in engine.catalog.list_tables()):
        return False
    # a provider-less CREATE must not hijack a Spark-native workload, but
    # databaseExists is too weak a veto ('default' always exists): veto
    # only when the exact table resolves in the session catalog, or the
    # same-named Spark database holds a permanent table.  ``USING
    # swiftlake`` overrides either way.
    try:
        if engine.spark.catalog.tableExists(name):
            return False
        if engine.spark.catalog.databaseExists(db) and any(
            t.tableType != "TEMPORARY"
            for t in engine.spark.catalog.listTables(db)
        ):
            return False
    except Exception:
        pass
    return True


def _take_parens(text: str) -> tuple[str, str]:
    """``text`` starts at '(': return (inner, rest-after-close), honoring
    single-quoted spans (a CTAS query inside later text never reaches
    here, but spec items may carry quoted literals)."""
    depth, i, in_str = 0, 0, False
    while i < len(text):
        ch = text[i]
        if in_str:
            if ch == "'":
                if i + 1 < len(text) and text[i + 1] == "'":
                    i += 1
                else:
                    in_str = False
        elif ch == "'":
            in_str = True
        elif ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return text[1:i], text[i + 1 :].strip()
        i += 1
    raise ValidationError("unbalanced '(' in CREATE TABLE")


def _exec_create(engine, sql: str):
    """``CREATE TABLE [IF NOT EXISTS] db.t (<ddl>) | [AS <query>]``
    with optional ``PARTITIONED BY (<spec>, ...)`` and ``SORTED BY
    (<col> [ASC|DESC], ...)`` — the textual face of
    ``catalog.create_table`` (partition transforms use the same
    Spark-DDL terms: ``bucket(16, c)``, ``day(ts)``, ...).

    Parsed from raw text like ALTER: Spark's parser rejects this
    grammar (``PARTITIONED BY (cat) SORTED BY (id)``).
    """
    m = re.match(
        r"^\s*CREATE\s+TABLE\s+(IF\s+NOT\s+EXISTS\s+)?([A-Za-z_][\w.]*)\s*(.*)$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    require(m is not None, "CREATE TABLE grammar: CREATE TABLE [IF NOT EXISTS] <name> ...")
    if_not_exists = m.group(1) is not None
    name = m.group(2)
    rest = m.group(3).strip()

    cols_ddl: str | None = None
    as_query: str | None = None
    spec: list[str] = []
    sort: list[str] = []

    if rest.startswith("("):
        inner, rest = _take_parens(rest)
        cols_ddl = inner.strip()
        require(bool(cols_ddl), "empty column list")
    while rest:
        mp = re.match(r"^USING\s+swiftlake\b\s*", rest, re.IGNORECASE)
        if mp:
            # the explicit lakehouse-provider marker (ddl_route claims
            # these unconditionally) — no-op once routing is decided
            rest = rest[mp.end():]
            continue
        mm = re.match(r"^(PARTITIONED|SORTED)\s+BY\s*(?=\()", rest, re.IGNORECASE)
        if mm:
            inner, rest = _take_parens(rest[mm.end() :])
            items = _split_type_list(inner)
            require(bool(items), f"empty {mm.group(1).upper()} BY list")
            if mm.group(1).upper() == "PARTITIONED":
                spec = items
            else:
                sort = items
            continue
        ma = re.match(r"^AS\b(.*)$", rest, re.IGNORECASE | re.DOTALL)
        if ma:
            require(cols_ddl is None, "CTAS cannot also declare a column list")
            as_query = ma.group(1).strip()
            require(bool(as_query), "AS needs a query")
            rest = ""
            continue
        raise ValidationError(
            f"unexpected text {rest[:40]!r} in CREATE TABLE "
            "(grammar: [(cols)] [PARTITIONED BY (...)] [SORTED BY (...)] "
            "[AS query])"
        )
    require(
        (cols_ddl is not None) != (as_query is not None),
        "CREATE TABLE needs exactly one of a column list or AS <query>",
    )
    if engine.catalog.table_exists(name):
        require(if_not_exists, f"table {name} already exists")
        return None
    if as_query is not None:
        # analyze the source BEFORE creating the table, and roll the
        # create back if the insert fails — a failed CTAS must leave no
        # committed empty table behind (ADVICE r9: retrying the same
        # statement would otherwise hit "already exists")
        src = engine.sql(as_query)
        engine.catalog.create_table(
            name, src.schema, partition_spec=spec or None, sort_order=sort or None
        )
        try:
            snap = engine.insert_into(name).dataframe(src).execute()
        except BaseException:
            try:
                engine.catalog.drop_table(name)
            except Exception:
                pass
            raise
        return snap
    engine.catalog.create_table(
        name, cols_ddl, partition_spec=spec or None, sort_order=sort or None
    )
    return None


def _split_type_list(text: str) -> list[str]:
    """Split ``name TYPE, name TYPE`` on commas outside (), <> — DDL
    types themselves contain both (``decimal(10,2)``, ``struct<a: t>``)."""
    out, depth, seg = [], 0, []
    for ch in text:
        if ch in "(<":
            depth += 1
        elif ch in ")>":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(seg).strip())
            seg = []
        else:
            seg.append(ch)
    out.append("".join(seg).strip())
    return [s for s in out if s]


def _exec_alter(engine, sql: str) -> None:
    """``ALTER TABLE db.t`` verbs over the metadata-only schema-evolution
    API (tables/table.py — reference SchemaEvolution.java:328-404):

    - ``ADD COLUMN <name> <type>`` / ``ADD COLUMNS (<name> <type>, ...)``
      — nested paths supported (``payload.score double``);
    - ``DROP COLUMN <name>``;
    - ``RENAME COLUMN <old> TO <new>``;
    - ``ALTER COLUMN <name> TYPE <type>`` — widen only.

    Parsed from raw text: Spark's parser would reject an unknown type
    before the catalog names it, and the grammar admits no string
    literals.
    """
    m = re.match(
        r"^\s*ALTER\s+TABLE\s+([A-Za-z_][\w.]*)\s+"
        r"(ADD|DROP|RENAME|ALTER)\s+(COLUMNS?)\s+(.*?)\s*$",
        sql,
        re.IGNORECASE | re.DOTALL,
    )
    require(
        m is not None,
        "ALTER TABLE grammar: ALTER TABLE <name> "
        "ADD COLUMN[S]|DROP COLUMN|RENAME COLUMN|ALTER COLUMN ...",
    )
    name, verb = m.group(1), m.group(2).upper()
    noun, rest = m.group(3).upper(), m.group(4).strip()
    require(
        verb == "ADD" or noun == "COLUMN",
        f"{verb} takes COLUMN (singular), got {noun}",
    )
    tbl = engine.catalog.table(name)
    if verb == "ADD":
        if rest.startswith("(") and rest.endswith(")"):
            rest = rest[1:-1]
        items: list[tuple[str, str]] = []
        for item in _split_type_list(rest):
            parts = item.split(None, 1)
            require(
                len(parts) == 2 and re.fullmatch(r"[A-Za-z_][\w.]*", parts[0]) is not None,
                f"ADD COLUMN grammar: <name> <type>, got {item!r}",
            )
            items.append((parts[0], parts[1]))
        require(bool(items), "ADD COLUMN needs at least one <name> <type>")
        # atomic: one metadata commit for the whole list
        tbl.add_columns(items)
    elif verb == "DROP":
        require(
            re.fullmatch(r"[A-Za-z_][\w.]*", rest) is not None,
            "DROP COLUMN grammar: DROP COLUMN <name>",
        )
        tbl.drop_column(rest)
    elif verb == "RENAME":
        mr = re.fullmatch(
            r"([A-Za-z_][\w.]*)\s+TO\s+([A-Za-z_][\w]*)", rest, re.IGNORECASE
        )
        require(mr is not None, "RENAME grammar: RENAME COLUMN <old> TO <new>")
        tbl.rename_column(mr.group(1), mr.group(2))
    else:
        ma = re.fullmatch(
            r"([A-Za-z_][\w.]*)\s+TYPE\s+(.+)", rest, re.IGNORECASE | re.DOTALL
        )
        require(ma is not None, "ALTER COLUMN grammar: ALTER COLUMN <name> TYPE <type>")
        tbl.widen_column(ma.group(1), ma.group(2).strip())


def _exec_drop(engine, m: re.Match) -> None:
    require(not m.group("rest").strip(), "trailing tokens after DROP TABLE <name>")
    name = m.group("name")
    if engine.catalog.table_exists(name):
        engine.catalog.drop_table(name)
    else:
        require(m.group("if_exists") is not None, f"table {name} does not exist")


def execute_ddl(engine, sql: str, args=None) -> DataFrame:
    """Run a CREATE / ALTER / DROP TABLE statement ``ddl_route`` claimed."""
    require(args is None, "parameter markers are not supported in DDL statements")
    stmt = sql.strip().rstrip(";")
    if _DDL_CREATE.match(stmt):
        return _receipt(engine.spark, "create", _exec_create(engine, stmt))
    if _DDL_ALTER.match(stmt):
        _exec_alter(engine, stmt)
        return _receipt(engine.spark, "alter", None)
    _exec_drop(engine, _DDL_DROP.match(stmt))
    return _receipt(engine.spark, "drop", None)


# ----------------------------------------------------------------- DML


def dml_table(root: _Node) -> str | None:
    """The ``db.t`` a parsed INSERT / UPDATE / DELETE / MERGE writes, or
    None for any other statement or target."""
    if root.cls in ("InsertIntoStatement", "OverwriteByExpression"):
        rel = root.field("table")
    elif root.cls in ("UpdateTable", "DeleteFromTable", "MergeIntoTable"):
        rel = root.kids[0]
    else:
        return None
    if rel.cls == "SubqueryAlias":
        rel = rel.kids[0]
    parts = (name_parts(rel.d["multipartIdentifier"])
             if rel.cls == "UnresolvedRelation" else [])
    return ".".join(parts) if len(parts) == 2 else None


def execute_dml(engine, sql: str, root: _Node, table: str, args=None) -> DataFrame:
    """Run the parsed DML statement ``root`` (of ``sql``) on lakehouse
    table ``table`` through its builder."""
    require(
        args is None and not any(
            n.cls in ("NamedParameter", "PosParameter") for n in root.walk()
        ),
        "parameter markers are not supported in DML statements",
    )
    run = {"UpdateTable": _update, "DeleteFromTable": _delete,
           "MergeIntoTable": _merge}.get(root.cls, _insert)
    operation, snapshot = run(engine, sql, root, table)
    return _receipt(engine.spark, operation, snapshot)


def _quals(rel: _Node, name: str, side: str = "") -> dict[str, str]:
    """Qualifiers naming ``rel`` of table ``name`` (its alias, which hides
    the name, else the name with or without its database) → ``side``."""
    if rel.cls == "SubqueryAlias":
        return {rel.d["identifier"]["name"].lower(): side}
    return {name.lower(): side, name.rsplit(".", 1)[-1].lower(): side}


def _split(parts: list[str], quals: dict[str, str]):
    """(side of ``parts``' qualifier in ``quals`` or None, the rest)."""
    for k in (2, 1):
        q = ".".join(parts[:k]).lower()
        if len(parts) > k and q in quals:
            return quals[q], parts[k:]
    return None, parts


def _bare(quals: dict[str, str]):
    """``expr_text`` rewrite dropping a qualifier in ``quals``."""
    def attr(parts: list[str]) -> str | None:
        side, rest = _split(parts, quals)
        return None if side is None else quote_ident(rest)
    return attr


def _assignments(sql: str, assigns: list[_Node], quals: dict[str, str], attr,
                 what: str = "SET target") -> dict[str, str]:
    """``col = expr`` pairs: the column from the key's name parts (its
    origin spans the whole list), the value's text via ``attr``."""
    sets: dict[str, str] = {}
    for a in assigns:
        parts = name_parts(a.kids[0].d["nameParts"])
        col = _split(parts, quals)[1]
        require(len(col) == 1, f"{what} must be a bare column, got {'.'.join(parts)!r}")
        require(col[0] not in sets, f"duplicate SET column {col[0]!r}")
        sets[col[0]] = expr_text(sql, a.kids[1], attr)
    return sets


def _filter(engine, sql: str, cond: _Node | None, table: str, quals: dict[str, str]):
    """``cond`` as a pushdown expression over ``table``.  No condition —
    Spark gives a DELETE without WHERE as ``true`` — is every row; for a
    DELETE that is a metadata-only truncate (every file fully matches)."""
    if cond is None or (cond.cls == "Literal" and cond.d["dataType"] == "boolean"
                        and cond.d["value"] == "true"):
        return E.always_true()
    return parse_filter(expr_text(sql, cond, _bare(quals), strings=True),
                        engine.catalog.table(table).schema)


def _update(engine, sql: str, root: _Node, table: str):
    # standard SQL: no WHERE → every row (the builder API keeps its
    # mandatory-condition guard for programmatic callers)
    quals = _quals(root.kids[0], table)
    sets = _assignments(sql, [f for f in root.fields if f.key == "assignments"],
                        quals, _bare(quals))
    b = engine.update(table).condition(
        _filter(engine, sql, root.field("condition"), table, quals)
    ).update_sets({c: F.expr(e) for c, e in sets.items()})
    return "update", b.execute()


def _delete(engine, sql: str, root: _Node, table: str):
    cond = _filter(engine, sql, root.field("condition"), table,
                   _quals(root.kids[0], table))
    return "delete", engine.delete_from(table).condition(cond).execute()


def _insert(engine, sql: str, root: _Node, table: str):
    """``INSERT INTO <table> [(cols)] SELECT ...|VALUES (...), ...`` —
    positional column mapping per standard SQL; unlisted columns of an
    explicit column list NULL-fill via the builder's ``columns()``."""
    require(
        root.cls == "InsertIntoStatement" and not root.d["overwrite"]
        and not root.d["byName"] and root.j.partitionSpec().isEmpty(),
        f"INSERT OVERWRITE, PARTITION, BY NAME and REPLACE WHERE are not "
        f"supported in SQL on lakehouse table {table}; use the builders "
        f"engine.insert_overwrite({table!r}) / engine.insert_into({table!r})",
    )
    tbl_schema = engine.catalog.table(table).schema
    cols = root.d["userSpecifiedCols"]
    cols = name_parts(cols) if isinstance(cols, str) else None
    if cols is not None:
        bad = set(cols) - set(tbl_schema.fieldNames())
        require(not bad, f"INSERT columns not in table: {sorted(bad)}")
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        require(not dupes, f"duplicate INSERT columns: {dupes}")
    names = cols or tbl_schema.fieldNames()
    query = root.kids[0]
    if query.cls in ("LocalRelation", "UnresolvedInlineTable"):
        # the origin is exactly ``VALUES (...), ...``: Spark's
        # ``FROM VALUES (..) AS v(c1, c2)`` inline-table form
        lo, hi = query.span()
        src_df = engine.spark.sql(
            f"SELECT * FROM {sql[lo:hi]} AS "
            f"__v({', '.join(quote_ident([c]) for c in names)})"
        )
    else:
        # the statement's own origin is its ``INSERT INTO t [(cols)]``
        # head; the rest is the query, a FROM-first query's FROM included
        src_df = engine.sql(sql[root.span()[1]:])
        require(
            len(src_df.columns) == len(names),
            f"INSERT column count mismatch: query returns "
            f"{len(src_df.columns)} columns, target list has {len(names)}",
        )
        src_df = src_df.toDF(*names)
    b = engine.insert_into(table).dataframe(src_df)
    if cols is not None:
        b = b.columns(cols)
    return "insert", b.execute()


def _analyze_on(sql: str, cond: _Node, quals: dict[str, str]):
    """``(keys, boundary, residual)`` of a MERGE ON condition: (target
    col, source col) key pairs, target-only conjunct texts (qualifiers
    stripped) and source-touching conjunct nodes."""
    # a top-level OR binds looser than the ANDs this analysis splits on:
    # accepting it would silently regroup '<keys> AND a OR b' as
    # '<keys> AND (a OR b)' against SQL precedence.  Reject loudly;
    # parenthesized ORs inside a conjunct are fine.
    if cond.cls == "Or":
        raise ValidationError(
            "top-level OR in MERGE ON clause is not supported (its SQL "
            "precedence is looser than the key-equality ANDs); "
            "parenthesize the disjunction or use engine.merge_into(...)"
        )
    keys: list[tuple[str, str]] = []
    boundary: list[str] = []
    residual: list[_Node] = []
    for conj in split_and(cond):
        # key equality: <x>.<k> = <y>.<k2> (top-level columns only;
        # nested paths fall through to the residual classification)
        ends = sorted(
            (_split(name_parts(k.d["nameParts"]), quals)
             for k in conj.kids if k.cls == "UnresolvedAttribute"),
            key=lambda e: e[0] != "target",
        )
        if (conj.cls == "EqualTo" and len(ends) == 2
                and [s for s, _ in ends] == ["target", "source"]
                and all(len(r) == 1 for _, r in ends)):
            keys.append((ends[0][1][0], ends[1][1][0]))
            continue
        # every other conjunct: each column must resolve to a side, and
        # no subquery; Spark parses BETWEEN as a between() call
        sub = list(conj.walk())
        sides = {_split(name_parts(x.d["nameParts"]), quals)[0]
                 for x in sub if x.cls == "UnresolvedAttribute"}
        ok = None not in sides and not any(x.fields for x in sub)
        if ok and sides == {"target"} and not any(
                x.cls == "UnresolvedFunction" and x.d["nameParts"] != "[between]"
                for x in sub):
            boundary.append(expr_text(sql, conj, _bare(quals), strings=True))
            continue
        if ok and ("source" in sides or not sides):
            residual.append(conj)
            continue
        raise ValidationError(
            f"unsupported ON conjunct {expr_text(sql, conj)!r}: MERGE through "
            "SQL accepts target-key = source-key equalities, target-only "
            "boundary predicates (plain comparisons — no function calls), and "
            "source-side/mixed residual conditions; use "
            "engine.merge_into(...) for other shapes"
        )
    require(bool(keys), "MERGE ON clause needs at least one key equality")
    return keys, boundary, residual


def _merge(engine, sql: str, root: _Node, table: str):
    require(not root.d.get("withSchemaEvolution"), "MERGE WITH SCHEMA EVOLUTION "
            f"is not supported in SQL; use engine.merge_into({table!r})")
    t_quals = _quals(root.kids[0], table, "target")
    src = root.kids[1]
    rel = src.kids[0] if src.cls == "SubqueryAlias" else src
    lo, hi = rel.span()
    if rel.cls == "UnresolvedRelation":
        # a lakehouse table (time-travel suffix included) or a view
        name = ".".join(name_parts(rel.d["multipartIdentifier"]))
        src_df = engine.sql(f"SELECT * FROM {sql[lo:hi]}")
    else:
        require(src is not rel, "USING (subquery) needs an alias")
        # a query's origin is its own text; checking the parentheses
        # around it rules out a query whose text starts before its origin
        # (FROM-first), which the slice would silently misread
        require(
            sql[:lo].rstrip().endswith("(") and sql[hi:].lstrip().startswith(")"),
            "MERGE USING takes a table name or a parenthesized query",
        )
        name, src_df = "", engine.sql(sql[lo:hi])
    quals = {**_quals(src, name, "source"), **t_quals}
    keys, boundary, residual = _analyze_on(sql, root.field("mergeCondition"), quals)

    # rename source key columns to the target names where they differ
    for tcol, scol in keys:
        if tcol != scol:
            require(
                scol in src_df.columns,
                f"source has no column {scol!r} (ON clause key) — "
                f"columns: {src_df.columns}",
            )
            require(
                tcol not in src_df.columns,
                f"cannot rename source key {scol!r} → {tcol!r}: source "
                f"already has a column {tcol!r}",
            )
            src_df = src_df.withColumnRenamed(scol, tcol)
    renamed = {scol.lower(): tcol for tcol, scol in keys if tcol != scol}

    def ns(parts: list[str]) -> str | None:
        """t./s. qualifiers → the builder's target./source. namespaces,
        renamed source keys under their target name."""
        side, rest = _split(parts, quals)
        if side is None:
            return None
        if side == "source" and len(rest) == 1 and rest[0].lower() in renamed:
            rest = [renamed[rest[0].lower()]]
        return f"{side}.{quote_ident(rest)}"

    # standard SQL '=' is null-rejecting; eqNullSafe stays builder-only
    b = (
        engine.merge_into(table)
        .using(src_df)
        .key_columns([k for k, _ in keys])
        .null_safe_keys(False)
    )
    if boundary:
        b = b.table_filter(parse_filter(
            " AND ".join(f"({c})" for c in boundary),
            engine.catalog.table(table).schema,
        )).filter_source(False)
    else:
        b = b.unbounded()
    for conj in residual:
        b = b.match_condition(expr_text(sql, conj, ns))

    # WHEN clauses, in Spark's grammar order: matched, not matched, not
    # matched by source
    for a in root.fields:
        if not a.key.endswith("Actions"):
            continue
        require(
            a.cls != "UpdateStarAction",
            "UPDATE SET * is not supported in MERGE through SQL; list the "
            "columns or use engine.merge_into(...)",
        )
        cond = a.kids[0] if a.d.get("condition") else None
        c = expr_text(sql, cond, ns) if cond is not None else None
        assigns = a.kids[1:] if cond is not None else a.kids
        if a.key == "notMatchedActions":
            values = (None if a.cls == "InsertStarAction"
                      else _assignments(sql, assigns, t_quals, ns, "INSERT column"))
            b.when_not_matched_insert(values=values, condition=c)
        elif a.cls == "DeleteAction":
            if a.key == "matchedActions":
                b.when_matched_delete(condition=c)
            else:
                b.when_not_matched_by_source_delete(condition=c)
        else:
            sets = _assignments(sql, assigns, t_quals, ns)
            if a.key == "matchedActions":
                b.when_matched_update(sets=sets, condition=c)
            else:
                # target-only rows; the builder rejects source.* refs
                b.when_not_matched_by_source_update(sets=sets, condition=c)
    return "merge", b.execute()
