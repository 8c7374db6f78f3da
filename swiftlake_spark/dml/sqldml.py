"""SQL DML + DDL statements through ``engine.sql``.

The reference exposes DML only through fluent builders
(SwiftLakeEngine.java — update/delete/applyChangesAsSCD*); its SQL
surface is read-only DuckDB passthrough (README.md:723-727).  This
module extends the Spark engine's ``sql()`` so the statement forms a
real user expects also work textually:

- ``INSERT INTO db.t [(cols)] SELECT ...`` / ``VALUES (...), (...)``
- ``UPDATE db.t SET a = <expr>, b = <expr> [WHERE <cond>]`` (no WHERE
  → every row, standard SQL)
- ``DELETE FROM db.t [WHERE <cond>]`` (no WHERE → metadata-only
  truncate)
- ``MERGE INTO db.t [AS] t USING (<query>)|<name> [AS] s
  ON t.k = s.k [AND t.bound = 'x' ...] [AND s.active = 1 ...]
  WHEN MATCHED [AND <cond>] THEN UPDATE SET a = <expr>, ... | DELETE
  WHEN NOT MATCHED [BY TARGET] [AND <cond>] THEN
    INSERT [*|(cols) VALUES (exprs)]
  WHEN NOT MATCHED BY SOURCE [AND <cond>] THEN UPDATE SET ... | DELETE``
  (SQL:2016; ``ON`` key ``=`` is null-rejecting per standard SQL —
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

Routing is evidence-based (``dml_target`` / ``ddl_route``): statements
whose target is NOT a lakehouse table pass through to ``spark.sql``
untouched, so Spark-native DML/DDL keeps working.  ALTER and CREATE
parse from raw text — their payload is DDL type syntax
(``struct<a: bigint>``) the expression tokenizer rightly rejects.

Each parses into the corresponding builder (dml/update.py, delete.py,
merge.py) — the statement text is never handed to Catalyst, so COW
rewrite, manifest pruning, conflict detection and snapshot commit all
behave exactly as the builder API.  The parse uses the conservative
scanner below (literal masking, comment rejection); anything outside
the supported grammar raises ValidationError with the reason, never a
silent misread.

MERGE ON-clause subset (sound by construction):

- conjuncts of the form ``t.k = s.k`` become null-safe join keys
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
from dataclasses import dataclass

from pyspark.sql import DataFrame

from swiftlake_spark.dml.scd_common import require
from swiftlake_spark.dml.sqlfilter import parse_filter
from swiftlake_spark.tables.metadata import ValidationError

# --------------------------------------------------------------- scanner

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
    "SET",  # UPDATE ... SET end = 0
}


_DML_HEAD = re.compile(r"^\s*(UPDATE|DELETE|MERGE|INSERT)\b", re.IGNORECASE)


def is_dml(sql: str) -> bool:
    return _DML_HEAD.match(sql) is not None


_DML_TARGET = re.compile(
    r"^\s*(?:UPDATE|DELETE\s+FROM|MERGE\s+INTO|INSERT\s+INTO)\s+"
    r"([A-Za-z_][\w.]*)",
    re.IGNORECASE,
)


def dml_target(sql: str) -> str | None:
    """Target table name of a DML statement, or None when the statement
    shape is unrecognizable.  Used by engine.sql to route: only
    statements whose target IS a lakehouse table enter the DML builders;
    everything else passes through to spark.sql untouched (a Spark-native
    ``INSERT INTO catalog_table ...`` must keep working).  Deliberately a
    head-only regex, not a full tokenization: routing must work even for
    statements the DML grammar later rejects with a clear error (e.g.
    parameter markers), and nothing can precede the target name."""
    m = _DML_TARGET.match(sql)
    return m.group(1) if m else None


# --------------------------------------------------------------- helpers


_UNTOKENIZABLE = (
    "could not tokenize DML statement (comments, backticks, parameter "
    "markers and unrecognized characters are not supported in DML)"
)
_UNBALANCED = (
    "could not parse statement structure (unbalanced parentheses or "
    "CASE ... END)"
)


def _tokens(sql: str) -> list[_Tok]:
    """Tokens of ``sql``, matched on its literal-masked copy (spans line
    up with ``sql``); anything unrecognized is rejected, never guessed."""
    masked = mask_literals(sql)
    # Comments first: '-' and '/' lex as operators, so without this check
    # a commented-out predicate ("WHERE x = 1 -- AND y = 2") would scan as
    # live tokens and become part of the statement's condition.  Literal
    # masking already ran, so '--' inside a string can't trip this.
    require("--" not in masked and "/*" not in masked, _UNTOKENIZABLE)
    out: list[_Tok] = []
    pos = 0
    while pos < len(masked):
        m = _TOKEN_RE.match(masked, pos)
        if m is None:
            require(not masked[pos:].strip(), _UNTOKENIZABLE)
            break
        kind = m.lastgroup
        out.append(_Tok(kind, m.group(kind), m.start(kind), m.end()))
        pos = m.end()
    return out


def _slice(sql: str, toks: list[_Tok], lo: int, hi: int) -> str:
    """Original text spanning tokens[lo:hi] (literals intact)."""
    if lo >= hi:
        return ""
    return sql[toks[lo].start : toks[hi - 1].end]


def _levels(tokens: list[_Tok]) -> list[int]:
    """Per-token nesting level combining parentheses and CASE...END, with
    parens and CASE tracked in SEPARATE counters (ADVICE r8: a single
    shared counter desyncs when `end` appears as a bare column name,
    going negative and re-enabling conjunct splits inside a later CASE —
    which promoted a WHEN-branch condition to a standalone conjunct).
    Bare identifiers named `case`/`end` are recognized from local context
    (see the tables above) so sibling conjuncts still split.  Anything
    unmatchable — END with no open CASE that isn't provably an
    identifier, unbalanced parens — is an explicit error: the DML
    grammar never guesses."""
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
            require(depth >= 0, _UNBALANCED)
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
            if not ident:
                # a closing END needs a CASE we saw open
                require(case_depth > 0, _UNBALANCED)
                case_depth -= 1
            lvl.append(depth + case_depth)
        else:
            lvl.append(depth + case_depth)
    require(depth == 0 and case_depth == 0, _UNBALANCED)
    return lvl


def _find_kw(toks: list[_Tok], kw: str, start: int) -> int:
    """Index of the next top-level keyword token, or -1.  Top-level means
    outside parentheses AND outside CASE...END — a CASE expression's
    WHEN/THEN must never terminate a MERGE clause scan."""
    lvl = _levels(toks)
    base = lvl[start] if start < len(toks) else 0
    for i in range(start, len(toks)):
        if toks[i].kind == "word" and toks[i].up == kw and lvl[i] == base:
            return i
    return -1


def _split_top(toks: list[_Tok], lo: int, hi: int, sep_up: str) -> list[tuple[int, int]]:
    """Split tokens[lo:hi] on top-level separators (comma kind or
    keyword).  CASE...END shields its contents like parentheses, and a
    BETWEEN consumes its own AND (``x BETWEEN a AND b`` stays one
    segment)."""
    out = []
    lvl = _levels(toks)
    base = lvl[lo] if lo < hi else 0
    between_pending = 0
    seg = lo
    for i in range(lo, hi):
        t = toks[i]
        if lvl[i] != base or t.kind != "word" and t.kind != "comma":
            continue
        if t.kind == "word" and t.up == "BETWEEN":
            between_pending += 1
            continue
        is_sep = (sep_up == "," and t.kind == "comma") or (
            sep_up != "," and t.kind == "word" and t.up == sep_up
        )
        if t.kind == "word" and t.up == "AND" and between_pending:
            between_pending -= 1
            continue
        if is_sep:
            out.append((seg, i))
            seg = i + 1
    out.append((seg, hi))
    return out


def _rewrite_aliases(
    sql: str, toks: list[_Tok], lo: int, hi: int, mapping: dict[str, str],
    full: dict[str, str] | None = None,
) -> str:
    """Rebuild tokens[lo:hi] as text with ``alias.``-qualified word
    tokens rewritten per ``mapping`` (case-insensitive on the alias;
    an empty-string replacement STRIPS the qualifier) and whole
    qualified names per ``full`` (e.g. a renamed source key).
    Works on token spans so string literals are never touched."""
    if lo >= hi:
        return ""
    out = []
    pos = toks[lo].start
    for i in range(lo, hi):
        t = toks[i]
        out.append(sql[pos : t.start])
        # slice the ORIGINAL text — token .text carries masked literals
        text = sql[t.start : t.end]
        if t.kind == "word" and "." in text:
            repl_full = (full or {}).get(text.lower())
            if repl_full is not None:
                text = repl_full
            else:
                head, rest = text.split(".", 1)
                repl = mapping.get(head.lower())
                if repl == "":
                    text = rest
                elif repl is not None:
                    text = f"{repl}.{rest}"
        out.append(text)
        pos = t.end
    return "".join(out)


def _assignments(
    sql: str, toks: list[_Tok], lo: int, hi: int, mapping: dict[str, str],
    strip_quals: tuple[str, ...] = (), full: dict[str, str] | None = None,
) -> dict[str, str]:
    """Parse ``a = expr, b = expr`` between lo and hi."""
    sets: dict[str, str] = {}
    for s, e in _split_top(toks, lo, hi, ","):
        require(e - s >= 3, f"malformed SET assignment near {_slice(sql, toks, s, e)!r}")
        lhs = toks[s]
        require(
            lhs.kind == "word" and toks[s + 1].kind == "op" and toks[s + 1].text == "=",
            f"malformed SET assignment near {_slice(sql, toks, s, e)!r}",
        )
        col = lhs.text
        for q in strip_quals:
            if col.lower().startswith(q.lower() + "."):
                col = col[len(q) + 1 :]
        require("." not in col, f"SET target must be a bare column, got {lhs.text!r}")
        require(col not in sets, f"duplicate SET column {col!r}")
        sets[col] = _rewrite_aliases(sql, toks, s + 2, e, mapping, full)
    return sets


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
    r"^\s*DROP\s+TABLE\s+(?:IF\s+EXISTS\s+)?([A-Za-z_][\w.]*)",
    re.IGNORECASE,
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
    m = _DDL_DROP.match(sql) or _DDL_ALTER.match(sql)
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
    # ADVICE r9 refined (r10 review): a provider-less CREATE must not
    # hijack a Spark-native workload — but databaseExists alone is too
    # weak a veto ('default' always exists, and lakehouse databases are
    # name-only, so ANY name collision would override positive lakehouse
    # evidence).  Veto only on real Spark-side evidence: the exact table
    # resolves in the session catalog, or the same-named Spark database
    # holds at least one permanent table.  Genuinely ambiguous setups
    # pass through to Spark; ``USING swiftlake`` is the explicit
    # override either way.
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


def _exec_create(engine, sql: str) -> DataFrame:
    """``CREATE TABLE [IF NOT EXISTS] db.t (<ddl>) | [AS <query>]``
    with optional ``PARTITIONED BY (<spec>, ...)`` and ``SORTED BY
    (<col> [ASC|DESC], ...)`` — the textual face of
    ``catalog.create_table`` (partition transforms use the same
    Spark-DDL terms: ``bucket(16, c)``, ``day(ts)``, ...).

    Parsed from raw text like ALTER: the column list is DDL type syntax
    (``struct<a: bigint>``) the expression tokenizer rightly rejects.
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
        return _receipt(engine.spark, "create", None)
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
        return _receipt(engine.spark, "create", snap)
    engine.catalog.create_table(
        name, cols_ddl, partition_spec=spec or None, sort_order=sort or None
    )
    return _receipt(engine.spark, "create", None)


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


def _exec_alter(engine, sql: str) -> DataFrame:
    """``ALTER TABLE db.t`` verbs over the metadata-only schema-evolution
    API (tables/table.py — reference SchemaEvolution.java:328-404):

    - ``ADD COLUMN <name> <type>`` / ``ADD COLUMNS (<name> <type>, ...)``
      — nested paths supported (``payload.score double``);
    - ``DROP COLUMN <name>``;
    - ``RENAME COLUMN <old> TO <new>``;
    - ``ALTER COLUMN <name> TYPE <type>`` — widen only.

    Parsed from raw text (not the expression tokenizer): the payload is
    DDL TYPE syntax (``struct<a: bigint>``), which the expression scanner
    rightly rejects, and the grammar admits no string literals.
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
        return _receipt(engine.spark, "alter", None)
    if verb == "DROP":
        require(
            re.fullmatch(r"[A-Za-z_][\w.]*", rest) is not None,
            "DROP COLUMN grammar: DROP COLUMN <name>",
        )
        tbl.drop_column(rest)
        return _receipt(engine.spark, "alter", None)
    if verb == "RENAME":
        mr = re.fullmatch(
            r"([A-Za-z_][\w.]*)\s+TO\s+([A-Za-z_][\w]*)", rest, re.IGNORECASE
        )
        require(mr is not None, "RENAME grammar: RENAME COLUMN <old> TO <new>")
        tbl.rename_column(mr.group(1), mr.group(2))
        return _receipt(engine.spark, "alter", None)
    # verb == "ALTER"
    ma = re.fullmatch(
        r"([A-Za-z_][\w.]*)\s+TYPE\s+(.+)", rest, re.IGNORECASE | re.DOTALL
    )
    require(ma is not None, "ALTER COLUMN grammar: ALTER COLUMN <name> TYPE <type>")
    tbl.widen_column(ma.group(1), ma.group(2).strip())
    return _receipt(engine.spark, "alter", None)


def _exec_drop(engine, sql: str, toks: list[_Tok]) -> DataFrame:
    i = 2
    if_exists = False
    if i + 1 < len(toks) and toks[i].up == "IF" and toks[i + 1].up == "EXISTS":
        if_exists = True
        i += 2
    require(i < len(toks) and toks[i].kind == "word", "expected a table name")
    require(i + 1 == len(toks), "trailing tokens after DROP TABLE <name>")
    name = toks[i].text
    if not engine.catalog.table_exists(name):
        require(if_exists, f"table {name} does not exist")
        return _receipt(engine.spark, "drop", None)
    engine.catalog.drop_table(name)
    return _receipt(engine.spark, "drop", None)


# -------------------------------------------------------------- UPDATE


def _exec_update(engine, sql: str, toks: list[_Tok]) -> DataFrame:
    require(len(toks) >= 2 and toks[1].kind == "word", "UPDATE needs a table name")
    table = toks[1].text
    require(
        len(toks) > 2 and toks[2].up == "SET",
        "UPDATE grammar: UPDATE <table> SET a = expr [, ...] WHERE <cond>",
    )
    wh = _find_kw(toks, "WHERE", 3)
    # standard SQL: no WHERE → every row updates (a deliberate
    # full-table rewrite; the builder API's mandatory-condition guard
    # stays for programmatic callers, the textual form is explicit)
    set_end = wh if wh != -1 else len(toks)
    sets = _assignments(sql, toks, 3, set_end, {}, strip_quals=(table,))
    tbl_schema = engine.catalog.table(table).schema
    if wh != -1:
        cond = _slice(sql, toks, wh + 1, len(toks))
        require(bool(cond.strip()), "empty WHERE clause")
        condition = parse_filter(cond, tbl_schema)
    else:
        from swiftlake_spark.tables import expressions as E

        condition = E.always_true()
    from pyspark.sql import functions as F

    b = engine.update(table).condition(condition).update_sets(
        {c: F.expr(e) for c, e in sets.items()}
    )
    return _receipt(engine.spark, "update", b.execute())


# -------------------------------------------------------------- INSERT


def _exec_insert(engine, sql: str, toks: list[_Tok]) -> DataFrame:
    """``INSERT INTO <table> [(cols)] SELECT ...|VALUES (...), ...`` —
    positional column mapping per standard SQL; unlisted columns of an
    explicit column list NULL-fill via the builder's ``columns()``."""
    require(
        len(toks) >= 3 and toks[1].up == "INTO" and toks[2].kind == "word",
        "INSERT grammar: INSERT INTO <table> [(cols)] SELECT ... | VALUES ...",
    )
    table = toks[2].text
    tbl_schema = engine.catalog.table(table).schema
    i = 3
    cols: list[str] | None = None
    if i < len(toks) and toks[i].kind == "lp":
        depth, j = 1, i + 1
        while j < len(toks) and depth:
            if toks[j].kind == "lp":
                depth += 1
            elif toks[j].kind == "rp":
                depth -= 1
            j += 1
        cols = []
        for s, e in _split_top(toks, i + 1, j - 1, ","):
            require(
                e - s == 1 and toks[s].kind == "word" and "." not in toks[s].text,
                "INSERT column list must be bare columns",
            )
            cols.append(toks[s].text)
        bad = set(cols) - set(tbl_schema.fieldNames())
        require(not bad, f"INSERT columns not in table: {sorted(bad)}")
        dupes = sorted({c for c in cols if cols.count(c) > 1})
        require(not dupes, f"duplicate INSERT columns: {dupes}")
        i = j
    require(i < len(toks), "INSERT needs a source (SELECT or VALUES)")
    names = cols or tbl_schema.fieldNames()
    src_text = _slice(sql, toks, i, len(toks))
    if toks[i].up == "VALUES":
        # inline table: Spark's `FROM VALUES (..) AS v(c1, c2)` form
        src_df = engine.spark.sql(
            f"SELECT * FROM {src_text} AS __v({', '.join(names)})"
        )
    else:
        require(
            toks[i].up in ("SELECT", "WITH", "FROM", "TABLE"),
            f"unsupported INSERT source starting at {toks[i].text!r}",
        )
        src_df = engine.sql(src_text)
        require(
            len(src_df.columns) == len(names),
            f"INSERT column count mismatch: query returns "
            f"{len(src_df.columns)} columns, target list has {len(names)}",
        )
        src_df = src_df.toDF(*names)
    b = engine.insert_into(table).dataframe(src_df)
    if cols is not None:
        b = b.columns(cols)
    return _receipt(engine.spark, "insert", b.execute())


# -------------------------------------------------------------- DELETE


def _exec_delete(engine, sql: str, toks: list[_Tok]) -> DataFrame:
    require(
        len(toks) >= 3 and toks[1].up == "FROM" and toks[2].kind == "word",
        "DELETE grammar: DELETE FROM <table> WHERE <cond>",
    )
    table = toks[2].text
    if len(toks) == 3:
        # standard SQL: no WHERE → delete every row.  With an
        # always-true condition every file fully matches, so this is a
        # metadata-only truncate (no data rewrite).
        from swiftlake_spark.tables import expressions as E

        b = engine.delete_from(table).condition(E.always_true())
        return _receipt(engine.spark, "delete", b.execute())
    wh = _find_kw(toks, "WHERE", 3)
    require(
        wh == 3,
        "DELETE grammar: DELETE FROM <table> [WHERE <cond>]",
    )
    cond = _slice(sql, toks, wh + 1, len(toks))
    require(bool(cond.strip()), "empty WHERE clause")
    tbl_schema = engine.catalog.table(table).schema
    b = engine.delete_from(table).condition(parse_filter(cond, tbl_schema))
    return _receipt(engine.spark, "delete", b.execute())


# --------------------------------------------------------------- MERGE


@dataclass
class _OnAnalysis:
    keys: list[tuple[str, str]]  # (target col, source col)
    boundary: list[str]  # target-only conjunct texts (qualifiers stripped)
    residual: list[tuple[int, int]]  # source-touching conjuncts (tok spans)


def _ident_side(text: str, t_alias: str, s_alias: str) -> tuple[str | None, str]:
    """('target'|'source'|None, bare-name) for a word token text."""
    low = text.lower()
    if low.startswith(t_alias.lower() + "."):
        return "target", text[len(t_alias) + 1 :]
    if low.startswith(s_alias.lower() + "."):
        return "source", text[len(s_alias) + 1 :]
    return None, text


def _strip_qualifier(
    sql: str, toks: list[_Tok], lo: int, hi: int, alias: str
) -> str:
    """Rebuild tokens[lo:hi] with the ``alias.`` prefix dropped from
    qualified word tokens — ``_rewrite_aliases`` with the empty-string
    strip sentinel, kept as a named wrapper for the boundary-conjunct
    call sites (a literal containing the alias text can never be
    touched: literals are not word tokens)."""
    return _rewrite_aliases(sql, toks, lo, hi, {alias.lower(): ""})


def _analyze_on(
    sql: str, toks: list[_Tok], lo: int, hi: int, t_alias: str, s_alias: str
) -> _OnAnalysis:
    keys: list[tuple[str, str]] = []
    boundary: list[str] = []
    residual: list[tuple[int, int]] = []
    # a top-level OR binds looser than the ANDs this analysis splits on:
    # accepting it would silently regroup '<keys> AND a OR b' as
    # '<keys> AND (a OR b)' against SQL precedence.  Reject loudly;
    # parenthesized ORs inside a conjunct are fine (nesting > 0).
    lv = _levels(toks)
    for i in range(lo, hi):
        if toks[i].kind == "word" and toks[i].up == "OR" and lv[i] == lv[lo]:
            raise ValidationError(
                "top-level OR in MERGE ON clause is not supported (its SQL "
                "precedence is looser than the key-equality ANDs); "
                "parenthesize the disjunction or use engine.merge_into(...)"
            )
    for s, e in _split_top(toks, lo, hi, "AND"):
        span = _slice(sql, toks, s, e)
        # key equality: <x>.<k> = <y>.<k2> (top-level columns only;
        # nested paths fall through to the residual classification)
        if (
            e - s == 3
            and toks[s].kind == "word"
            and toks[s + 1].kind == "op"
            and toks[s + 1].text == "="
            and toks[s + 2].kind == "word"
        ):
            l_side, l_name = _ident_side(toks[s].text, t_alias, s_alias)
            r_side, r_name = _ident_side(toks[s + 2].text, t_alias, s_alias)
            if {l_side, r_side} == {"target", "source"}:
                tcol, scol = (
                    (l_name, r_name) if l_side == "target" else (r_name, l_name)
                )
                if "." not in tcol and "." not in scol:
                    keys.append((tcol, scol))
                    continue
        # classify the conjunct: every identifier must resolve
        sides = set()
        has_fn = False
        ok = True
        for i in range(s, e):
            t = toks[i]
            if t.kind == "word" and "." in t.text:
                side, _ = _ident_side(t.text, t_alias, s_alias)
                if side is None:
                    ok = False
                    break
                sides.add(side)
            elif t.kind == "word" and t.up not in _COND_WORDS and "." not in t.text:
                if i + 1 < e and toks[i + 1].kind == "lp":
                    has_fn = True  # function call — fine in residuals
                else:
                    # bare identifier of unknown provenance (literals
                    # have kind 'str'/'num' and never land here)
                    ok = False
                    break
        if ok and sides == {"target"} and not has_fn:
            # target-only conjunct → boundary: manifest prune + match
            # gating (the engine's documented scoping contract).  Strip
            # the target qualifier so parse_filter sees bare columns —
            # token-span rebuild, so string literals (kind 'str', never
            # word) are untouchable by construction
            boundary.append(_strip_qualifier(sql, toks, s, e, t_alias))
            continue
        if ok and ("source" in sides or not sides):
            # source-side / mixed residual → standard match gating via
            # MergeIntoBuilder.match_condition (a failing pair does not
            # match: the source row stays insert-eligible, the target
            # row walks NOT MATCHED BY SOURCE)
            residual.append((s, e))
            continue
        raise ValidationError(
            f"unsupported ON conjunct {span!r}: MERGE through SQL accepts "
            "target-key = source-key equalities, target-only boundary "
            "predicates (plain comparisons — no function calls), and "
            "source-side/mixed residual conditions; use "
            "engine.merge_into(...) for other shapes"
        )
    require(bool(keys), "MERGE ON clause needs at least one key equality")
    return _OnAnalysis(keys, boundary, residual)


_COND_WORDS = {
    "AND", "OR", "NOT", "IS", "NULL", "IN", "BETWEEN", "LIKE", "TRUE",
    "FALSE", "DATE", "TIMESTAMP", "INTERVAL", "CAST", "AS", "CASE",
    "WHEN", "THEN", "ELSE", "END",
}


def _parse_name_alias(
    sql: str, toks: list[_Tok], i: int, stop_kws: set[str]
) -> tuple[str, str, int]:
    """<name> [AS] [alias] → (name, alias, next index)."""
    require(i < len(toks) and toks[i].kind == "word", "expected a table name")
    name = toks[i].text
    i += 1
    if i < len(toks) and toks[i].kind == "word" and toks[i].up == "AS":
        i += 1
        require(i < len(toks) and toks[i].kind == "word", "expected an alias after AS")
        alias = toks[i].text
        return name, alias, i + 1
    if i < len(toks) and toks[i].kind == "word" and toks[i].up not in stop_kws:
        return name, toks[i].text, i + 1
    return name, name, i


def _exec_merge(engine, sql: str, toks: list[_Tok]) -> DataFrame:
    require(
        len(toks) >= 2 and toks[1].up == "INTO",
        "MERGE grammar: MERGE INTO <table> [alias] USING <source> [alias] "
        "ON <cond> WHEN ...",
    )
    table, t_alias, i = _parse_name_alias(sql, toks, 2, {"USING"})
    require(i < len(toks) and toks[i].up == "USING", "expected USING")
    i += 1
    # source: (subquery) or a name (lakehouse table or view)
    if i < len(toks) and toks[i].kind == "lp":
        depth, j = 1, i + 1
        while j < len(toks) and depth:
            if toks[j].kind == "lp":
                depth += 1
            elif toks[j].kind == "rp":
                depth -= 1
            j += 1
        require(depth == 0, "unbalanced parens in USING subquery")
        src_sql = _slice(sql, toks, i + 1, j - 1)
        src_df = engine.sql(src_sql)
        i = j
        s_alias = None
        if i < len(toks) and toks[i].kind == "word" and toks[i].up == "AS":
            i += 1
        if i < len(toks) and toks[i].kind == "word" and toks[i].up != "ON":
            s_alias = toks[i].text
            i += 1
        require(s_alias is not None, "USING (subquery) needs an alias")
    else:
        src_name, s_alias, i = _parse_name_alias(sql, toks, i, {"ON"})
        src_df = engine.sql(f"SELECT * FROM {src_name}")
    require(i < len(toks) and toks[i].up == "ON", "expected ON after USING source")
    on_end = _find_kw(toks, "WHEN", i + 1)
    require(on_end != -1, "MERGE needs at least one WHEN clause")
    on = _analyze_on(sql, toks, i + 1, on_end, t_alias, s_alias)

    # rename source key columns to the target names where they differ
    for tcol, scol in on.keys:
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

    mapping = {t_alias.lower(): "target", s_alias.lower(): "source"}
    # renamed source keys: rewrite whole qualified names in clause exprs
    full = {
        f"{s_alias}.{scol}".lower(): f"source.{tcol}"
        for tcol, scol in on.keys
        if tcol != scol
    }
    # standard SQL '=' is null-rejecting; eqNullSafe stays builder-only
    b = (
        engine.merge_into(table)
        .using(src_df)
        .key_columns([k for k, _ in on.keys])
        .null_safe_keys(False)
    )
    tbl_schema = engine.catalog.table(table).schema
    if on.boundary:
        b = b.table_filter(
            parse_filter(" AND ".join(f"({c})" for c in on.boundary), tbl_schema)
        ).filter_source(False)
    else:
        b = b.unbounded()
    for s, e in on.residual:
        # rewrite t./s. aliases to target./source. (renamed source keys
        # go through ``full`` like every other clause expression)
        b = b.match_condition(_rewrite_aliases(sql, toks, s, e, mapping, full))

    # WHEN clauses
    idx = on_end
    while idx != -1 and idx < len(toks):
        nxt = _find_kw(toks, "WHEN", idx + 1)
        hi = nxt if nxt != -1 else len(toks)
        _parse_when(engine, b, sql, toks, idx, hi, mapping, full)
        idx = nxt
    return _receipt(engine.spark, "merge", b.execute())


def _parse_when(
    engine, b, sql: str, toks: list[_Tok], lo: int, hi: int, mapping, full
) -> None:
    i = lo + 1  # past WHEN
    require(i < hi, "empty WHEN clause")
    negated = toks[i].up == "NOT"
    if negated:
        i += 1
    require(i < hi and toks[i].up == "MATCHED", "expected MATCHED in WHEN clause")
    i += 1
    by_source = False
    if i + 1 < hi and toks[i].up == "BY" and toks[i + 1].up in ("SOURCE", "TARGET"):
        require(
            negated, f"BY {toks[i + 1].up} only follows WHEN NOT MATCHED"
        )
        # BY TARGET is the explicit spelling of the default NOT MATCHED
        # (SQL:2016); BY SOURCE flips to the target-only clause
        by_source = toks[i + 1].up == "SOURCE"
        i += 2
    cond = None
    if i < hi and toks[i].up == "AND":
        then = _find_kw(toks, "THEN", i + 1)
        require(then != -1 and then < hi, "WHEN ... AND <cond> needs THEN")
        cond = _rewrite_aliases(sql, toks, i + 1, then, mapping, full)
        i = then
    require(i < hi and toks[i].up == "THEN", "expected THEN in WHEN clause")
    i += 1
    require(i < hi, "empty action after THEN")
    action = toks[i].up
    if by_source:
        # target-only rows: UPDATE SET .../DELETE; the builder rejects
        # source.* references in cond/sets with a clear error
        if action == "DELETE":
            require(i + 1 == hi, "DELETE takes no arguments")
            b.when_not_matched_by_source_delete(condition=cond)
            return
        require(
            action == "UPDATE", f"unsupported not-matched-by-source action {action!r}"
        )
        require(i + 1 < hi and toks[i + 1].up == "SET", "UPDATE needs SET")
        sets = _assignments(sql, toks, i + 2, hi, mapping, full=full)
        b.when_not_matched_by_source_update(sets=sets, condition=cond)
        return
    if not negated:
        if action == "DELETE":
            require(i + 1 == hi, "DELETE takes no arguments")
            b.when_matched_delete(condition=cond)
            return
        require(action == "UPDATE", f"unsupported matched action {action!r}")
        require(i + 1 < hi and toks[i + 1].up == "SET", "UPDATE needs SET")
        sets = _assignments(sql, toks, i + 2, hi, mapping, full=full)
        b.when_matched_update(sets=sets, condition=cond)
        return
    require(action == "INSERT", f"unsupported not-matched action {action!r}")
    i += 1
    if i < hi and toks[i].kind == "op" and toks[i].text == "*":
        require(i + 1 == hi, "INSERT * takes no further arguments")
        b.when_not_matched_insert(condition=cond)
        return
    require(
        i < hi and toks[i].kind == "lp",
        "INSERT grammar: INSERT * | INSERT (cols) VALUES (exprs)",
    )
    depth, j = 1, i + 1
    while j < hi and depth:
        if toks[j].kind == "lp":
            depth += 1
        elif toks[j].kind == "rp":
            depth -= 1
        j += 1
    cols = []
    for s, e in _split_top(toks, i + 1, j - 1, ","):
        require(e - s == 1 and toks[s].kind == "word", "INSERT column list must be bare columns")
        cols.append(toks[s].text)
    require(j < hi and toks[j].up == "VALUES", "expected VALUES after INSERT column list")
    require(j + 1 < hi and toks[j + 1].kind == "lp", "VALUES needs a parenthesized list")
    depth, k = 1, j + 2
    while k < hi and depth:
        if toks[k].kind == "lp":
            depth += 1
        elif toks[k].kind == "rp":
            depth -= 1
        k += 1
    exprs = [
        _rewrite_aliases(sql, toks, s, e, mapping, full)
        for s, e in _split_top(toks, j + 2, k - 1, ",")
    ]
    require(k == hi, "trailing tokens after VALUES list")
    require(
        len(cols) == len(exprs),
        f"INSERT column/value count mismatch: {len(cols)} vs {len(exprs)}",
    )
    b.when_not_matched_insert(values=dict(zip(cols, exprs)), condition=cond)


# --------------------------------------------------------------- driver


def execute_dml(engine, sql: str) -> DataFrame:
    """Parse + run a DML statement; raises ValidationError outside the
    supported grammar."""
    stmt = sql.strip().rstrip(";")
    if _DDL_ALTER.match(stmt):
        # ALTER and CREATE parse from raw text — their payload is DDL
        # type syntax (struct<a: bigint>), which the expression
        # tokenizer rejects
        return _exec_alter(engine, stmt)
    if _DDL_CREATE.match(stmt):
        return _exec_create(engine, stmt)
    toks = _tokens(stmt)
    require(bool(toks), "empty statement")
    head = toks[0].up
    if head == "INSERT":
        return _exec_insert(engine, stmt, toks)
    if head == "UPDATE":
        return _exec_update(engine, stmt, toks)
    if head == "DELETE":
        return _exec_delete(engine, stmt, toks)
    if head == "MERGE":
        return _exec_merge(engine, stmt, toks)
    if head == "DROP":
        require(
            len(toks) > 1 and toks[1].up == "TABLE",
            "only DROP TABLE is supported as lakehouse DDL",
        )
        return _exec_drop(engine, stmt, toks)
    raise ValidationError(f"not a DML statement: {head}")
