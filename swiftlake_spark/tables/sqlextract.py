"""Per-table predicate extraction from Spark's parsed plan.

``engine.sql("SELECT ... FROM db.t WHERE ...")`` resolves lakehouse
names to per-query DataFrames (catalog.resolve_sql); without extraction
those are UNPRUNED scans — Catalyst pushes the filter into the parquet
reader, but the manifest prune (skip whole files/partitions before
Spark ever lists them) never fires.  At 100 TB that is the difference
between planning 40 files and planning 400,000.

Reference parity: SqlQueryProcessor finds each table of a statement and
its conditions with a real SQL parser, JSqlParser
(sql/SqlQueryProcessor.java:130-236).  Here Spark's own parser does that
job, and it is the engine's only SQL parser: :func:`parse` runs
``sqlParser.parsePlan`` once per statement, and ``engine.sql`` hands
that one parse both to the DML route (dml/sqldml.py) and to
:func:`analyze`, which walks the unresolved plan, so Spark's grammar
decides what is a table, an alias, a CTE, a subquery or a conjunct.
This module only proves, conjunct by conjunct, that a predicate
references exactly one FROM table, and hands that conjunct's text
(:func:`expr_text`: qualifiers stripped, string literals re-rendered
from their parsed values) to dml/sqlfilter's pushdown grammar.  The
extracted expression is used for MANIFEST PRUNING ONLY (never
re-applied as a row filter), so the worst possible outcome of skipping
a conjunct is an unpruned scan, and the stats evaluation itself is the
inclusive 3VL engine fuzzed in test_pruning_soundness.py.

The plan crosses py4j as one ``toJSON()`` string, which carries no
source positions; ``origin()`` is read over py4j (about 0.5 ms a node)
only where text is needed: lakehouse relations, candidate conjuncts,
their qualified columns and string literals, and lakehouse-qualified
names.

Conservative rules, each inclusive by construction:

- a conjunct containing a subquery, a parameter marker, a column of
  unknown provenance, a qualifier that is not a visible alias, or
  columns of two tables is skipped;
- WHERE conditions and the ON conditions of inner joins split on AND;
  an OR stays one unit, so an OR spanning tables yields nothing;
- a table on the null-extended side of an outer join never receives a
  filter (``WHERE r.x IS NULL`` over ``LEFT JOIN r`` matches rows the
  pre-join filter would create, not restrict);
- join edges (equalities of two tables' columns) are only reported when
  the FROM has no outer join.

Soundness of the whole path is certified differentially: the SQL fuzz
corpus (tests/sql_fuzz.py) runs through engine.sql against PARTITIONED
native tables and must match DuckDB on the original text
(tests/test_engine_sql_fuzz.py).
"""

from __future__ import annotations

import bisect
import json
import re
from dataclasses import dataclass, field
from functools import partial
from typing import Callable

from pyspark.errors import ParseException

# `db.t$snapshot_3` is a parse error at `$`; backtick-quoting the suffixed
# part turns it into the identifier [db, t$snapshot_3].  The arg charset
# admits ':' and '+' for ISO-8601 offsets.
_SUFFIXED_RE = re.compile(
    r"(?<![\w.`$])([A-Za-z_]\w*\.)"
    r"([A-Za-z_]\w*\$(?:timestamp|snapshot|branch|tag)_[\w.:+-]+)"
)

# fields of a plan node that hold a query plan rather than expressions
# (EXPLAIN, DESCRIBE QUERY); a query held in any other field still has its
# relations resolved, but unpruned
_PLAN_FIELDS = {"logicalPlan", "plan"}
_OUTER = {"LeftOuter", "RightOuter", "FullOuter"}


@dataclass
class FromInfo:
    """Extraction result for one lakehouse relation of a statement."""
    ref: str                      # ``db.t``; time travel as a ``$suffix``
    span: tuple[int, int]         # text its placeholder replaces
    alias: str | None
    conjuncts: list[str] = field(default_factory=list)  # qualifier-stripped
    # inner-join equi edges: (my_col, other_name, other_info, other_col).
    # other_name is None for derived tables and CTEs; other_info is the
    # other side's FromInfo when it is a lakehouse relation.  Only emitted
    # when the FROM has no outer join, so every ON/WHERE conjunct is
    # filter-equivalent (a JOIN b ON c ≡ CROSS JOIN + WHERE c under inner
    # semantics) and pruning either side by the other's key set is sound.
    equi: list[tuple] = field(default_factory=list)


@dataclass
class _Item:
    """One FROM item as the conditions over it see it."""
    alias: str | None
    name: str | None              # relation identifier; None if derived/CTE
    info: FromInfo | None         # set for lakehouse relations
    null_ext: bool
    visible: bool                 # False on the right of a semi/anti join


class _Node:
    """A node of the parsed plan's JSON; its JVM object is fetched over
    py4j only when its origin is read."""

    __slots__ = ("d", "cls", "key", "parent", "kids", "fields", "_get",
                 "_j", "_span", "_ins")

    def __init__(self, d: dict, get, parent: "_Node | None", key: str | None,
                 ins: list[int]):
        self.d = d
        self.cls = d["class"].rsplit(".", 1)[-1]
        self.key = key                # field name when not a child
        self.parent = parent
        self.kids: list[_Node] = []
        self.fields: list[_Node] = []  # plan/expression trees held in fields
        self._get = get
        self._j = None
        self._span: tuple[int, int] | None = None
        self._ins = ins               # parsed-text offsets of added backticks

    @property
    def j(self):
        if self._j is None:
            self._j = self._get()
        return self._j

    def span(self) -> tuple[int, int]:
        """Half-open origin of the node in the statement's text."""
        if self._span is None:
            o = self.j.origin()
            self._span = tuple(i - bisect.bisect_left(self._ins, i)
                               for i in (o.startIndex().get(), o.stopIndex().get() + 1))
        return self._span

    def field(self, key: str) -> "_Node | None":
        return next((f for f in self.fields if f.key == key), None)

    def walk(self):
        yield self
        for n in self.kids + self.fields:
            yield from n.walk()


def _field(n: _Node, key: str, *idx: int):
    v = getattr(n.j, key)()
    if v.getClass().getName() == "scala.Some":
        v = v.get()
    for k in idx:
        v = v.apply(k)
    return v


def _is_tree(v) -> bool:
    return isinstance(v, list) and bool(v) and isinstance(v[0], dict) and "class" in v[0]


def _build(flat: list, get, parent, key, is_plan: bool,
           ins: list[int] | None = None) -> _Node:
    """Tree of a JSON pre-order node list.  A plan node's fields hold its
    expressions; an expression's only non-child tree is a subquery's
    ``plan`` (its other tree-valued fields repeat its children)."""
    pos = 0
    ins = parent._ins if parent is not None else ins or []

    def node(get, parent, key) -> _Node:
        nonlocal pos
        n = _Node(flat[pos], get, parent, key, ins)
        pos += 1
        n.kids = [node(lambda k=k: n.j.children().apply(k), n, None)
                  for k in range(n.d["num-children"])]
        n.fields = list(_fields(n, is_plan))
        return n

    return node(get, parent, key)


def _fields(n: _Node, is_plan: bool):
    if not is_plan:
        if "plan" in n.d:
            yield _build(n.d["plan"], partial(_field, n, "plan"), n, "plan", True)
        return
    if n.cls == "UnresolvedWith":
        for i, rel in enumerate(n.d["cteRelations"]):
            yield _build(rel["_2"], lambda i=i: n.j.cteRelations().apply(i)._2(),
                         n, "cte", True)
    for key, v in n.d.items():
        for idx, t in _trees(v):
            yield _build(t, partial(_field, n, key, *idx), n, key,
                         not idx and key in _PLAN_FIELDS)


def _trees(v, idx: tuple[int, ...] = ()):
    """(index path, tree) of each tree in a JSON field value, however
    deep its lists nest (an inline table's rows are lists of lists)."""
    if _is_tree(v):
        yield idx, v
    elif isinstance(v, list):
        for k, t in enumerate(v):
            yield from _trees(t, idx + (k,))


def name_parts(s: str) -> list[str]:
    """A JSON-rendered ``Seq[String]`` (``"[db, t]"``) as a list."""
    return s[1:-1].split(", ")


def _join_type(n: _Node) -> str:
    jt = n.d["joinType"]
    jt = jt.get("tpe", jt)  # NATURAL / USING wrap the real join type
    return (jt.get("object") or jt["product-class"]).rsplit(".", 1)[-1].rstrip("$")


def _tail_start(text: str, part: str) -> int:
    """Offset in ``text``, a dotted name, where its last part ``part``
    begins (the part may be backtick-quoted)."""
    quoted = len(part.replace("`", "``")) + 2 if text.endswith("`") else len(part)
    return len(text) - quoted


def _as_of(n: _Node, name: str) -> str:
    """``$suffix`` of a ``RelationTimeTravel`` (Spark's ``TIMESTAMP/VERSION
    AS OF``, SYSTEM_TIME / SYSTEM_VERSION alike)."""
    if "version" in n.d:
        v = n.d["version"]
        if not v.isdigit():
            raise ValueError(
                f"VERSION AS OF takes a snapshot id; for branches/tags use "
                f"{name}$branch_<name> / {name}$tag_<name>"
            )
        return f"$snapshot_{v}"
    lit = n.d["timestamp"]
    if (len(lit) == 1 and lit[0]["class"].endswith(".Literal")
            and lit[0]["dataType"] in ("string", "integer", "long")):
        return "$timestamp_" + lit[0]["value"].strip().replace(" ", "T")
    raise ValueError(
        f"TIMESTAMP AS OF on {name} takes a string or epoch-ms literal"
    )


def parse(spark, sql: str) -> _Node | None:
    """Spark's parse of ``sql`` as a node tree, or None when Spark cannot
    parse it.  ``db.t$suffix`` is backtick-quoted before parsing
    (``db.`t$snapshot_3```) and every span indexes ``sql`` itself."""
    inserted: list[int] = []  # parsed-text offsets of added backticks

    def quote(m: re.Match) -> str:
        at = m.start(2) + len(inserted)
        inserted.extend((at, at + len(m.group(2)) + 1))
        return f"{m.group(1)}`{m.group(2)}`"

    text = _SUFFIXED_RE.sub(quote, sql) if "$" in sql else sql
    try:
        jplan = spark._jsparkSession.sessionState().sqlParser().parsePlan(text)
    except ParseException:
        return None
    return _build(json.loads(jplan.toJSON()), lambda: jplan, None, None, True,
                  inserted)


def quote_ident(parts: list[str]) -> str:
    """A dotted name, each part backtick-quoted unless a plain word."""
    return ".".join(p if re.fullmatch(r"[A-Za-z_]\w*", p)
                    else "`" + p.replace("`", "``") + "`" for p in parts)


def expr_text(sql: str, n: _Node,
              attr: Callable[[list[str]], "str | None"] = lambda parts: None,
              strings: bool = False) -> str:
    """The original text of expression ``n``, each column reference
    replaced by ``attr(nameParts)`` unless that is None.  ``strings``
    re-renders each string literal from its parsed value as ``'…'``, for
    the pushdown grammar, which reads literals verbatim where Spark has
    unescaped ``'A\\tB'``; text that Spark parses again keeps them."""
    edits = []
    for x in n.walk():
        if x.cls == "UnresolvedAttribute":
            new = attr(name_parts(x.d["nameParts"]))
        elif (strings and x.cls == "Literal" and x.d["dataType"] == "string"
              and x.d.get("value") is not None):
            new = "'" + x.d["value"].replace("'", "''") + "'"
        else:
            continue
        if new is not None:
            edits.append((x.span(), new))
    # IN, BETWEEN, LIKE and IS [NOT] NULL nodes (and the NOT around a
    # negated one) start at their keyword: widen to the leftmost operand
    out, (pos, end), x = [], n.span(), n
    while x.kids and x.kids[0].span()[0] <= pos:
        x = x.kids[0]
        pos = x.span()[0]
    for (lo, hi), new in sorted(edits):
        out += [sql[pos:lo], new]
        pos = hi
    out.append(sql[pos:end])
    return "".join(out)


def split_and(n: _Node) -> list[_Node]:
    if n.cls == "And":
        return split_and(n.kids[0]) + split_and(n.kids[1])
    return [n]


def analyze(
    spark,
    sql: str,
    columns_of: Callable[[str], "set[str] | None"],
    is_lakehouse: Callable[[str], bool],
    root: _Node | None = None,
) -> tuple[list[FromInfo], list[tuple[str, tuple[int, int]]]]:
    """Walk ``root``, the :func:`parse` of ``sql`` (parsed here when not
    given), and return ``(infos, quals)``: one :class:`FromInfo` per
    lakehouse relation, with its provable single-table conjuncts
    (qualifier-stripped, string literals re-rendered), and the
    ``(ref, span)`` of every lakehouse table-name qualifier (``db.t.col``,
    ``db.t.*``).  Spans index ``sql``.  A statement Spark cannot parse
    yields nothing, and ``spark.sql`` reports the error."""
    if root is None:
        root = parse(spark, sql)
        if root is None:
            return [], []
    nodes = list(root.walk())

    ctes = {
        rel["_1"].lower()
        for n in nodes if n.cls == "UnresolvedWith"
        for rel in n.d["cteRelations"]
    }

    # ---- lakehouse relations --------------------------------------------
    infos: dict[int, FromInfo] = {}  # id(UnresolvedRelation node) → info
    ref_of: dict[str, str] = {}      # identifier → ref, for qualifiers
    for n in nodes:
        if n.cls != "UnresolvedRelation":
            continue
        parts = name_parts(n.d["multipartIdentifier"])
        name = ".".join(parts)
        if len(parts) != 2 or not is_lakehouse(name.split("$")[0]):
            continue
        top, (lo, hi), ref = n, n.span(), name
        if n.parent is not None and n.parent.cls == "RelationTimeTravel":
            # the time-travel node's origin is only its AS OF clause
            top = n.parent
            ref += _as_of(top, name)
            hi = top.span()[1]
        up = top.parent
        aliased = up is not None and up.cls == "SubqueryAlias"
        infos[id(n)] = FromInfo(ref, (lo, hi),
                                up.d["identifier"]["name"] if aliased else None)
        ref_of.setdefault(name.lower(), ref)

    # ---- lakehouse table-name qualifiers --------------------------------
    quals: list[tuple[str, tuple[int, int]]] = []
    for n in nodes:
        if n.cls == "UnresolvedAttribute":
            parts = name_parts(n.d["nameParts"])
        elif n.cls == "UnresolvedStar" and "target" in n.d:
            parts = name_parts(n.d["target"]) + ["*"]
        else:
            continue
        name = ".".join(parts[:2])
        if len(parts) < 3 or not is_lakehouse(name.split("$")[0]):
            continue
        lo, hi = n.span()
        q = sql[lo:hi]
        for p in reversed(parts[2:]):
            q = q[:_tail_start(q, p)].rstrip().removesuffix(".").rstrip()
        quals.append((ref_of.get(name.lower(), name), (lo, lo + len(q))))

    if not infos:
        return [], quals

    # ---- conjuncts and join edges, one FROM at a time -------------------
    col_cache: dict[str, set[str] | None] = {}

    def cols(it: _Item) -> set[str] | None:
        if it.name is None:
            return None
        key = it.info.ref if it.info is not None else it.name
        if key not in col_cache:
            col_cache[key] = columns_of(key)
        return col_cache[key]

    def items_of(n: _Node, null_ext: bool, visible: bool,
                 items: list[_Item], joins: list[_Node]) -> None:
        if n.cls == "Join":
            joins.append(n)
            kind = _join_type(n)
            items_of(n.kids[0], null_ext or kind in ("RightOuter", "FullOuter"),
                     visible, items, joins)
            # a WHERE cannot see the right side of a semi/anti join
            items_of(n.kids[1], null_ext or kind in ("LeftOuter", "FullOuter"),
                     visible and kind not in ("LeftSemi", "LeftAnti"),
                     items, joins)
            return
        alias = None
        if n.cls == "SubqueryAlias":
            alias, n = n.d["identifier"]["name"], n.kids[0]
        if n.cls == "RelationTimeTravel":
            n = n.field("relation") or n
        name = info = None
        if n.cls == "UnresolvedRelation":
            name = ".".join(name_parts(n.d["multipartIdentifier"]))
            info = infos.get(id(n))
            if "." not in name and name.lower() in ctes:
                # a CTE, not whatever catalog relation shares its name:
                # unknown schema, never a key source
                alias, name = alias or name, None
        items.append(_Item(alias, name, info, null_ext, visible))

    def resolve(parts: list[str], scope: list[_Item]) -> _Item | None:
        if len(parts) == 1:
            if any(cols(it) is None for it in scope):
                return None  # cannot prove the bare column is unique
            cands = [it for it in scope if parts[0] in cols(it)]
        else:
            q = ".".join(parts[:-1]).lower()
            cands = [
                it for it in scope
                if (it.alias or "").lower() == q
                or (it.alias is None and (it.name or "").lower() == q)
            ]
        return cands[0] if len(cands) == 1 else None

    def edge(conj: _Node, scope: list[_Item]) -> None:
        if conj.cls != "EqualTo" or any(k.cls != "UnresolvedAttribute"
                                        for k in conj.kids):
            return
        pa, pb = (name_parts(k.d["nameParts"]) for k in conj.kids)
        a, b = resolve(pa, scope), resolve(pb, scope)
        if a is not None and b is not None and a is not b:
            for me, mine, other, theirs in ((a, pa, b, pb), (b, pb, a, pa)):
                if me.info is not None:
                    me.info.equi.append((mine[-1], other.name, other.info,
                                         theirs[-1]))

    def scope_of(root: _Node, where: _Node | None) -> None:
        items: list[_Item] = []
        joins: list[_Node] = []
        items_of(root, False, True, items, joins)
        if not any(it.info for it in items):
            return
        has_outer = any(_join_type(j) in _OUTER for j in joins)
        pools = [(j.field("condition"), items) for j in joins
                 if _join_type(j) in ("Inner", "Cross")]
        if where is not None:
            pools.insert(0, (where.field("condition"),
                             [it for it in items if it.visible]))
        for cond, scope in pools:
            if cond is None:
                continue  # no ON, or a condition read as a plan field
            for conj in split_and(cond):
                sub = list(conj.walk())
                if any(x.fields or x.cls in ("NamedParameter", "PosParameter")
                       for x in sub):
                    continue  # subquery or parameter marker
                attrs = [x for x in sub if x.cls == "UnresolvedAttribute"]
                owners = [resolve(name_parts(a.d["nameParts"]), scope) for a in attrs]
                tgt = owners[0] if owners else None
                if tgt is not None and all(o is tgt for o in owners):
                    if tgt.info is None or tgt.null_ext:
                        continue
                    tgt.info.conjuncts.append(expr_text(
                        sql, conj,
                        lambda p: quote_ident(p[-1:]) if len(p) > 1 else None,
                        strings=True))
                elif not has_outer:
                    edge(conj, scope)

    for n in nodes:
        if n.cls == "Filter":
            scope_of(n.kids[0], n)
        elif n.cls == "Join" and (n.parent is None
                                  or n.parent.cls not in ("Join", "Filter")):
            scope_of(n, None)
    return list(infos.values()), quals
