"""Conservative per-table predicate extraction from SQL text.

``engine.sql("SELECT ... FROM db.t WHERE ...")`` resolves lakehouse
names to per-query DataFrames (catalog.resolve_sql); without extraction
those are UNPRUNED scans — Catalyst pushes the filter into the parquet
reader, but the manifest prune (skip whole files/partitions before
Spark ever lists them) never fires.  At 100 TB that is the difference
between planning 40 files and planning 400,000.

Reference parity: SqlQueryProcessor extracts each table's WHERE
condition from the statement text and plans a pruned file list before
execution (sql/SqlQueryProcessor.java:130-236 collects table refs,
:580-780 parses the condition grammar).  The Spark translation keeps
Catalyst as the real analyzer — this module only proves, conjunct by
conjunct, that a predicate references exactly one FROM table, and hands
the proven text to dml/sqlfilter's pushdown grammar.  The extracted
expression is used for MANIFEST PRUNING ONLY (never re-applied as a row
filter — the original SQL keeps full row semantics), so the worst
possible outcome of skipping a conjunct is an unpruned scan, and the
stats evaluation itself is the inclusive 3VL engine fuzzed in
test_pruning_soundness.py.

Bail-out rules (every "return None"/SKIP below) make the analysis
inclusive by construction:

- any token the scanner doesn't recognize (backticks, ``--`` comments,
  parameter markers, semicolons) → no extraction for the whole
  statement;
- a conjunct containing a subquery, a column of unknown provenance, a
  qualifier that is not a visible alias, or columns of two tables → that
  conjunct is skipped;
- a table on the null-extended side of an outer join never receives a
  filter (``WHERE r.x IS NULL`` over ``LEFT JOIN r`` matches rows the
  pre-join filter would create, not restrict);
- a top-level OR collapses the WHERE to a single all-or-nothing unit.

Soundness of the whole path is certified differentially: the SQL fuzz
corpus (tests/sql_fuzz.py) runs through engine.sql against PARTITIONED
native tables and must match DuckDB on the original text
(tests/test_engine_sql_fuzz.py).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Callable

# ----------------------------------------------------------------- scanner

_TOKEN_RE = re.compile(
    r"""\s*(?:
        (?P<str>'(?:[^']|'')*')
      | (?P<word>[A-Za-z_][A-Za-z0-9_$.]*)
      | (?P<num>\d+(?:\.\d+)?(?:[eE][+-]?\d+)?)
      | (?P<lp>\()
      | (?P<rp>\))
      | (?P<comma>,)
      | (?P<op><=|>=|<>|!=|=|<|>|\|\||[+\-*/%.])
    )""",
    re.VERBOSE,
)


@dataclass
class _Tok:
    kind: str
    text: str
    start: int
    end: int

    @property
    def up(self) -> str:
        return self.text.upper()


def mask_literals(sql: str) -> str:
    """Same-length copy with every quoted literal's content turned to
    'x' runs — positions line up with the original, and literal text can
    no longer fake keywords, refs, or parens."""
    parts = re.split(r"('(?:[^']|'')*')", sql)
    return "".join(
        p if i % 2 == 0 else "'" + "x" * (len(p) - 2) + "'"
        for i, p in enumerate(parts)
    )


def _scan(masked: str) -> list[_Tok] | None:
    """Tokenize; None if anything unrecognized appears (conservative)."""
    # Comments first: '-' and '/' lex as operators, so without this check
    # a commented-out predicate ("WHERE x = 1 -- AND y = 2") would scan as
    # live tokens and become a pruning conjunct Spark never evaluates.
    # Literal masking already ran, so '--' inside a string can't trip this.
    if "--" in masked or "/*" in masked:
        return None
    out: list[_Tok] = []
    pos = 0
    n = len(masked)
    while pos < n:
        m = _TOKEN_RE.match(masked, pos)
        if not m or m.end() == m.start():
            if masked[pos:].strip() == "":
                break
            return None
        pos = m.end()
        for kind in ("str", "word", "num", "lp", "rp", "comma", "op"):
            g = m.group(kind)
            if g is not None:
                out.append(_Tok(kind, g, m.start() + len(m.group(0)) - len(g), pos))
                break
    return out


# ------------------------------------------------------------ block model

_CLAUSE_KWS = {
    "FROM", "WHERE", "GROUP", "HAVING", "ORDER", "LIMIT", "OFFSET",
    "WINDOW", "QUALIFY", "UNION", "INTERSECT", "EXCEPT", "MINUS", "FETCH",
    "DISTRIBUTE", "CLUSTER", "SORT", "LATERAL",
}

# words that may follow a table name without being its alias
_AFTER_TABLE_KWS = {
    "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS", "OUTER", "ON",
    "USING", "NATURAL", "SEMI", "ANTI", "AS", "TABLESAMPLE",
}

# words inside a condition that are never column identifiers
_COND_KWS = {
    "AND", "OR", "NOT", "IS", "NULL", "IN", "BETWEEN", "LIKE", "ILIKE",
    "RLIKE", "DISTINCT", "FROM", "TRUE", "FALSE", "DATE", "TIMESTAMP",
    "INTERVAL", "ESCAPE", "CASE", "WHEN", "THEN", "ELSE", "END", "CAST",
    "AS", "EXISTS", "ANY", "ALL", "SOME", "SELECT",
}


@dataclass
class _FromRef:
    name: str | None          # None for derived tables (unknown schema)
    alias: str | None
    null_extended: bool
    tok: _Tok | None          # the table-name token (None for derived)
    columns: set[str] | None = None  # None = schema unknown


@dataclass
class _Block:
    depth: int
    from_span: tuple[int, int] | None = None   # token-index half-open
    where_span: tuple[int, int] | None = None
    _clause: str = "SELECT"
    _clause_start: int = -1

    def transition(self, kw: str, i: int) -> None:
        if self._clause == "FROM":
            self.from_span = (self._clause_start, i)
        elif self._clause == "WHERE":
            self.where_span = (self._clause_start, i)
        self._clause = kw
        self._clause_start = i + 1

    def close(self, i: int) -> None:
        self.transition("__END__", i)


@dataclass
class FromInfo:
    """Extraction result for one lakehouse FROM occurrence."""
    ref: str
    span: tuple[int, int]               # char span of the name token
    alias: str | None
    conjuncts: list[str] = field(default_factory=list)  # qualifier-stripped
    # inner-join equi edges: (my_col, other_name, other_span, other_col).
    # other_span is the other table's name-token span (None for derived
    # tables / unnamed sides).  Only emitted when the BLOCK contains no
    # outer join at all, so every ON/WHERE conjunct is filter-equivalent
    # (a JOIN b ON c ≡ CROSS JOIN + WHERE c under inner semantics) and
    # pruning either side by the other's key set is sound.
    equi: list[tuple] = field(default_factory=list)


# ----------------------------------------------------------- FROM parsing

def _parse_from(
    tokens: list[_Tok],
) -> "tuple[list[_FromRef], list[list[_Tok]], bool] | None":
    """Returns (refs, on_conjunct_token_lists, has_outer_join)."""
    refs: list[_FromRef] = []
    on_lists: list[list[_Tok]] = []
    has_outer = False
    i, n = 0, len(tokens)
    pending_null_ext = False
    expect_table = True

    def _skip_group(j: int) -> int:  # j at '('; returns index past ')'
        d = 1
        j += 1
        while j < n and d:
            if tokens[j].kind == "lp":
                d += 1
            elif tokens[j].kind == "rp":
                d -= 1
            j += 1
        return j

    while i < n:
        t = tokens[i]
        if t.kind == "lp":
            if not expect_table:
                return None
            i = _skip_group(i)
            alias = None
            if i < n and tokens[i].kind == "word" and tokens[i].up == "AS":
                i += 1
            if i < n and tokens[i].kind == "word" and tokens[i].up not in _AFTER_TABLE_KWS:
                alias = tokens[i].text
                i += 1
            refs.append(_FromRef(None, alias, pending_null_ext, None))
            pending_null_ext = False
            expect_table = False
            continue
        if t.kind == "comma":
            expect_table = True
            i += 1
            continue
        if t.kind != "word":
            return None
        up = t.up
        if up == "JOIN":
            expect_table = True
            i += 1
            continue
        if up == "LEFT":
            pending_null_ext = True
            has_outer = True
            i += 1
            continue
        if up == "RIGHT":
            for r in refs:
                r.null_extended = True
            has_outer = True
            i += 1
            continue
        if up == "FULL":
            for r in refs:
                r.null_extended = True
            pending_null_ext = True
            has_outer = True
            i += 1
            continue
        if up in ("INNER", "CROSS", "OUTER", "SEMI", "ANTI"):
            i += 1
            continue
        if up in ("NATURAL", "LATERAL", "TABLESAMPLE"):
            return None  # exotic: bail rather than reason about it
        if up == "ON":
            i += 1
            d = 0
            on_toks: list[_Tok] = []
            while i < n:
                tt = tokens[i]
                if tt.kind == "lp":
                    d += 1
                elif tt.kind == "rp":
                    d -= 1
                elif d == 0 and tt.kind == "word" and tt.up in (
                    "JOIN", "LEFT", "RIGHT", "FULL", "INNER", "CROSS",
                    "NATURAL", "SEMI", "ANTI",
                ):
                    break
                on_toks.append(tt)
                i += 1
            on_lists.append(on_toks)
            continue
        if up == "USING":
            i += 1
            if i < n and tokens[i].kind == "lp":
                i = _skip_group(i)
            continue
        if not expect_table:
            return None
        name = t.text
        i += 1
        alias = None
        if i < n and tokens[i].kind == "word" and tokens[i].up == "AS":
            i += 1
        if i < n and tokens[i].kind == "word" and tokens[i].up not in _AFTER_TABLE_KWS:
            alias = tokens[i].text
            i += 1
        refs.append(_FromRef(name, alias, pending_null_ext, t))
        pending_null_ext = False
        expect_table = False
    return refs, on_lists, has_outer


# --------------------------------------------------------------- CTE names

def _cte_names(tokens: list[_Tok]) -> set[str] | None:
    """Lowercased names bound by every WITH clause in the statement
    (including WITHs nested in subqueries).  A FROM that references one of
    these names must NOT be resolved through the session catalog — a temp
    view of the same name would shadow the CTE and keys/columns would be
    collected from the wrong relation.  Returns None (statement-level
    bail) on any WITH whose shape the parser doesn't recognize."""
    names: set[str] = set()
    n = len(tokens)

    def _skip_group(j: int) -> int | None:  # j at '('; index past ')'
        d = 1
        j += 1
        while j < n and d:
            if tokens[j].kind == "lp":
                d += 1
            elif tokens[j].kind == "rp":
                d -= 1
            j += 1
        return j if d == 0 else None

    for i, t in enumerate(tokens):
        if t.kind != "word" or t.up != "WITH":
            continue
        j = i + 1
        if j < n and tokens[j].kind == "word" and tokens[j].up in (
            "ROLLUP", "CUBE",
        ):
            # GROUP BY ... WITH ROLLUP|CUBE is not a CTE list — but a CTE
            # may be literally named rollup/cube ("WITH rollup AS (...)").
            # A real GROUP BY modifier is never followed by AS or '('
            # (Spark's WITH ROLLUP/CUBE takes no parenthesized list), so
            # only skip when neither follows (ADVICE r8).
            k = j + 1
            is_cte = k < n and (
                tokens[k].kind == "lp"
                or (tokens[k].kind == "word" and tokens[k].up == "AS")
            )
            if not is_cte:
                continue
        if j < n and tokens[j].kind == "word" and tokens[j].up == "RECURSIVE":
            j += 1
        while True:
            if j >= n or tokens[j].kind != "word":
                return None
            names.add(tokens[j].text.split(".")[-1].lower())
            j += 1
            if j < n and tokens[j].kind == "lp":  # optional column list
                nxt = _skip_group(j)
                if nxt is None:
                    return None
                j = nxt
            if j >= n or tokens[j].kind != "word" or tokens[j].up != "AS":
                return None
            j += 1
            if j >= n or tokens[j].kind != "lp":
                return None
            nxt = _skip_group(j)
            if nxt is None:
                return None
            j = nxt
            if j < n and tokens[j].kind == "comma":
                j += 1
                continue
            break
    return names


# ------------------------------------------------------- WHERE conjuncts

# A bare CASE token is a column *identifier* (Spark keeps CASE/END
# non-reserved) exactly when the next token could only follow a complete
# operand: a comparison, a predicate keyword, a closing paren/comma, or
# end of clause.  A real CASE expression is instead followed by WHEN or
# by its comparand (word/literal/'(' — and, for `CASE -x WHEN`, a sign).
_IDENT_CASE_NEXT_OPS = {"=", "<", ">", "<=", ">=", "<>", "!="}
_IDENT_CASE_NEXT_KWS = {"AND", "OR", "IS", "IN", "NOT", "LIKE", "ILIKE", "BETWEEN"}
# A bare END token is an *identifier* exactly when the previous token
# could not terminate a CASE branch value: clause start, an operator, a
# paren/comma opener, or a predicate/branch keyword.  A closing END is
# always preceded by a value terminal (word/number/string/')').
_IDENT_END_PREV_KWS = {
    "AND", "OR", "NOT", "WHEN", "THEN", "ELSE", "IN", "LIKE", "ILIKE",
    "BETWEEN", "IS", "CASE", "ESCAPE", "ALL", "ANY", "SOME", "DISTINCT",
    "SELECT", "BY", "ON", "WHERE", "HAVING",
    # DML contexts (dml/sqldml.py shares this tracker): `SET end = 0`.
    # SET cannot precede END inside a WHERE clause, so this is inert for
    # the pruning extractor.
    "SET",
}


def _nesting(tokens: list[_Tok]) -> list[int] | None:
    """Per-token nesting level combining parentheses and CASE...END, with
    parens and CASE tracked in SEPARATE counters (ADVICE r8: a single
    shared counter desyncs when `end` appears as a bare column name,
    going negative and re-enabling conjunct splits inside a later CASE —
    which promoted a WHEN-branch condition to a standalone pruning
    conjunct).  Bare identifiers named `case`/`end` are recognized from
    local context (see the tables above) so sibling conjuncts still
    extract; anything unmatchable — END with no open CASE that isn't
    provably an identifier, unbalanced parens — returns None and the
    caller collapses the WHERE to one all-or-nothing unit."""
    lvl: list[int] = []
    depth = 0
    case_depth = 0
    n = len(tokens)
    for i, t in enumerate(tokens):
        if t.kind == "lp":
            lvl.append(depth + case_depth)
            depth += 1
        elif t.kind == "rp":
            depth -= 1
            if depth < 0:
                return None
            lvl.append(depth + case_depth)
        elif t.kind == "word" and t.up == "CASE":
            nxt = tokens[i + 1] if i + 1 < n else None
            ident = (
                nxt is None
                or nxt.kind in ("rp", "comma")
                or (nxt.kind == "op" and nxt.text in _IDENT_CASE_NEXT_OPS)
                or (nxt.kind == "word" and nxt.up in _IDENT_CASE_NEXT_KWS)
            )
            lvl.append(depth + case_depth)
            if not ident:
                case_depth += 1
        elif t.kind == "word" and t.up == "END":
            prev = tokens[i - 1] if i else None
            ident = (
                prev is None
                or prev.kind in ("lp", "comma", "op")
                or (prev.kind == "word" and prev.up in _IDENT_END_PREV_KWS)
            )
            if ident:
                lvl.append(depth + case_depth)
            elif case_depth > 0:
                case_depth -= 1
                lvl.append(depth + case_depth)
            else:
                return None  # END closes a CASE we never saw open
        else:
            lvl.append(depth + case_depth)
    if depth != 0 or case_depth != 0:
        return None
    return lvl


def _conjuncts(tokens: list[_Tok]) -> list[list[_Tok]]:
    """Split on top-level AND.  A top-level OR makes the whole WHERE one
    unit (splitting across an OR would change precedence); the AND of a
    BETWEEN never splits.  CASE...END nests like parentheses: an AND (or
    OR) between WHEN and THEN is inside the expression, and splitting
    there would promote a CASE branch condition to a standalone pruning
    conjunct — silently dropping rows the full WHERE keeps."""
    lvl = _nesting(tokens)
    if lvl is None:
        return [tokens]
    for t, d in zip(tokens, lvl):
        if d == 0 and t.kind == "word" and t.up == "OR":
            return [tokens]
    out: list[list[_Tok]] = []
    cur: list[_Tok] = []
    pending_between = 0
    for t, d in zip(tokens, lvl):
        if d == 0 and t.kind == "word":
            if t.up == "BETWEEN":
                pending_between += 1
            elif t.up == "AND":
                if pending_between:
                    pending_between -= 1
                else:
                    out.append(cur)
                    cur = []
                    continue
        cur.append(t)
    if cur:
        out.append(cur)
    return out


def _resolve_ident(text: str, refs: list[_FromRef],
                   unknown_schema: bool) -> _FromRef | None:
    parts = text.split(".")
    if len(parts) == 1:
        if unknown_schema:
            return None  # cannot prove the bare column is unique
        cands = [r for r in refs if r.columns and text in r.columns]
        return cands[0] if len(cands) == 1 else None
    if len(parts) == 2:
        q = parts[0].lower()
        cands = [
            r for r in refs
            if (r.alias or "").lower() == q
            or (r.alias is None and r.name is not None and r.name.lower() == q)
        ]
        return cands[0] if len(cands) == 1 else None
    q = ".".join(parts[:-1]).lower()
    cands = [
        r for r in refs
        if r.alias is None and r.name is not None and r.name.lower() == q
    ]
    return cands[0] if len(cands) == 1 else None


def _attribute(conj: list[_Tok], refs: list[_FromRef]) -> _FromRef | None:
    """The single FROM table this conjunct provably references, else None."""
    target: _FromRef | None = None
    unknown_schema = any(r.columns is None for r in refs)
    for idx, t in enumerate(conj):
        if t.kind != "word" or t.up in _COND_KWS:
            if t.kind == "word" and t.up == "SELECT":
                return None
            continue
        if idx + 1 < len(conj) and conj[idx + 1].kind == "lp":
            continue  # function name, not a column
        resolved = _resolve_ident(t.text, refs, unknown_schema)
        if resolved is None:
            return None  # outer correlation / unknown qualifier / ambiguity
        if target is None:
            target = resolved
        elif target is not resolved:
            return None  # spans two tables
    return target


def _equi_edge(conj: list[_Tok], refs: list[_FromRef]):
    """(ref_a, col_a, ref_b, col_b) when the conjunct is exactly an
    equality of two identifiers resolving to two DIFFERENT tables."""
    toks = [t for t in conj if not (t.kind == "lp" or t.kind == "rp")]
    if len(toks) != 3 or toks[1].kind != "op" or toks[1].text != "=":
        return None
    a, b = toks[0], toks[2]
    if a.kind != "word" or b.kind != "word":
        return None
    if a.up in _COND_KWS or b.up in _COND_KWS:
        return None
    unknown_schema = any(r.columns is None for r in refs)
    ra = _resolve_ident(a.text, refs, unknown_schema)
    rb = _resolve_ident(b.text, refs, unknown_schema)
    if ra is None or rb is None or ra is rb:
        return None
    return ra, a.text.split(".")[-1], rb, b.text.split(".")[-1]


def _strip_qualifiers(cond: str, quals: list[str]) -> str:
    """Drop ``alias.`` / ``db.t.`` prefixes (outside string literals)."""
    if not quals:
        return cond
    pat = re.compile(
        r"(?<![\w.])(?:"
        + "|".join(re.escape(q) for q in sorted(set(quals), key=len, reverse=True))
        + r")\.",
        re.IGNORECASE,
    )
    parts = re.split(r"('(?:[^']|'')*')", cond)
    return "".join(p if i % 2 else pat.sub("", p) for i, p in enumerate(parts))


# ----------------------------------------------------------------- driver

def analyze(
    sql: str,
    masked: str,
    columns_of: Callable[[str], "set[str] | None"],
    is_lakehouse: Callable[[str], bool],
) -> dict[tuple[int, int], FromInfo]:
    """Map each lakehouse FROM occurrence's char span to its provable
    single-table conjuncts (qualifier-stripped, original literal text).
    Empty dict on any statement-level bail-out."""
    tokens = _scan(masked)
    if tokens is None:
        return {}
    ctes = _cte_names(tokens)
    if ctes is None:
        return {}

    # ---- block structure ------------------------------------------------
    blocks: list[_Block] = []
    stack: list[_Block] = []
    depth = 0
    for i, t in enumerate(tokens):
        if t.kind == "lp":
            depth += 1
            continue
        if t.kind == "rp":
            depth -= 1
            while stack and stack[-1].depth > depth:
                stack[-1].close(i)
                blocks.append(stack.pop())
            continue
        if t.kind != "word":
            continue
        up = t.up
        if up == "SELECT":
            if stack and stack[-1].depth == depth:
                stack[-1].close(i)
                blocks.append(stack.pop())
            b = _Block(depth=depth)
            b._clause_start = i + 1
            stack.append(b)
        elif stack and stack[-1].depth == depth and up in _CLAUSE_KWS:
            stack[-1].transition(up, i)
    while stack:
        stack[-1].close(len(tokens))
        blocks.append(stack.pop())

    # ---- per-block extraction -------------------------------------------
    out: dict[tuple[int, int], FromInfo] = {}
    for b in blocks:
        if b.from_span is None:
            continue
        parsed = _parse_from(tokens[b.from_span[0]:b.from_span[1]])
        if parsed is None or not parsed[0]:
            continue
        refs, on_lists, has_outer = parsed
        # a dotless FROM name bound by a WITH clause is the CTE, not
        # whatever catalog relation shares its name — demote it to a
        # derived table (unknown schema, never a key-collection source)
        # BEFORE any columns_of lookup can read the shadowed relation
        for r in refs:
            if (
                r.name is not None
                and "." not in r.name
                and r.name.lower() in ctes
            ):
                r.alias = r.alias or r.name
                r.name = None
                r.tok = None
                r.columns = None
        lake = []
        for r in refs:
            if r.name is None:
                continue
            base = r.name.split("$")[0]
            if "." in base and is_lakehouse(base):
                r.columns = columns_of(r.name)
                lake.append(r)
            else:
                r.columns = columns_of(r.name)
        if not lake:
            continue
        infos = {
            id(r): FromInfo(
                ref=r.name, span=(r.tok.start, r.tok.end), alias=r.alias
            )
            for r in lake
        }
        # conjunct pool: WHERE always; ON clauses join it only when the
        # block is outer-join-free (then ON ≡ WHERE under inner
        # semantics).  Equi edges come only from outer-join-free blocks.
        pools: list[list[_Tok]] = []
        if b.where_span is not None:
            wtokens = tokens[b.where_span[0]:b.where_span[1]]
            if wtokens:
                pools.append(wtokens)
        if not has_outer:
            pools.extend(on_lists)
        for pool in pools:
            for conj in _conjuncts(pool):
                if not conj:
                    continue
                tgt = _attribute(conj, refs)
                if tgt is not None and id(tgt) in infos and not tgt.null_extended:
                    text = sql[conj[0].start:conj[-1].end]
                    quals = [q for q in (tgt.alias, tgt.name) if q]
                    infos[id(tgt)].conjuncts.append(
                        _strip_qualifiers(text, quals)
                    )
                    continue
                if has_outer:
                    continue
                edge = _equi_edge(conj, refs)
                if edge is None:
                    continue
                ra, ca, rb, cb = edge
                for me, my_col, other, other_col in (
                    (ra, ca, rb, cb), (rb, cb, ra, ca),
                ):
                    if id(me) in infos:
                        ospan = (
                            (other.tok.start, other.tok.end)
                            if other.tok is not None else None
                        )
                        infos[id(me)].equi.append(
                            (my_col, other.name, ospan, other_col)
                        )
        for info in infos.values():
            out[info.span] = info
    return out
