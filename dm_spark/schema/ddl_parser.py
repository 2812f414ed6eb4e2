"""DDL statement parser: SQL text -> atomic schema actions.

The reference parses query events with the TiDB parser and splits a
multi-schema-change DDL into single-change statements before routing
(`parseOneStmt` syncer/ddl.go:33-47; `parserpkg.SplitDDL`
syncer/syncer.go:2235-2252). Here the supported surface is the ALTER
family the engine can apply (add / drop / rename / modify / change
column, rename table) in MySQL dialect, regex-parsed into
:class:`~dm_spark.plans.replay.DdlEvent`s:

- each clause of a multi-change ALTER becomes its own event, ordered by
  a location `suffix` ordinal (the SplitDDL analog — locations stay
  totally ordered);
- MySQL column types map onto Spark SQL types (`VARCHAR/TEXT ->
  string`, `DATETIME -> timestamp`, unsigned widens one step, ...);
- MySQL `CHANGE COLUMN a b TYPE` splits into rename + widen events.

Statements outside this surface raise ``UnsupportedDdl`` — the caller
decides (skip via error operators / DDL filter rules, or fail the
task), mirroring the reference's handle-error flow.
"""

from __future__ import annotations

import re

from typing import TYPE_CHECKING

if TYPE_CHECKING:  # pragma: no cover
    from dm_spark.plans.replay import DdlEvent


class UnsupportedDdl(ValueError):
    pass


_TYPE_MAP = {
    "tinyint": "tinyint",
    "smallint": "smallint",
    "mediumint": "int",
    "int": "int",
    "integer": "int",
    "bigint": "bigint",
    "float": "float",
    "double": "double",
    "real": "double",
    "varchar": "string",
    "char": "string",
    "text": "string",
    "tinytext": "string",
    "mediumtext": "string",
    "longtext": "string",
    "json": "string",
    "blob": "binary",
    "varbinary": "binary",
    "binary": "binary",
    "datetime": "timestamp",
    "timestamp": "timestamp",
    "date": "date",
    "boolean": "boolean",
    "bool": "boolean",
}

_UNSIGNED_WIDEN = {"tinyint": "smallint", "smallint": "int", "int": "bigint",
                   "bigint": "decimal(20,0)"}


def map_type(mysql_type: str) -> str:
    """MySQL column type -> Spark SQL type. UNSIGNED integers widen one
    step so the full value range fits (castUnsigned analog at the
    schema level, syncer/dml.go:185-212)."""
    t = mysql_type.strip().lower()
    unsigned = " unsigned" in t or t.endswith("unsigned")
    t = t.replace("unsigned", "").strip()
    m = re.match(r"^(\w+)(\(([^)]*)\))?", t)
    if not m:
        raise UnsupportedDdl(f"cannot parse type: {mysql_type}")
    base, args = m.group(1), m.group(3)
    if base == "decimal" or base == "numeric":
        return f"decimal({args})" if args else "decimal(10,0)"
    if base in ("enum", "set"):
        # ENUM/SET replicate by VALUE as strings (the member list is an
        # upstream constraint, not a downstream type — the reference
        # lands them as TiDB enum/set, which serialize to their string
        # form; a lake column keeps the string). SET rows arrive
        # comma-joined, ENUM rows as the single member.
        return "string"
    if base not in _TYPE_MAP:
        raise UnsupportedDdl(f"unmapped MySQL type: {mysql_type}")
    out = _TYPE_MAP[base]
    if unsigned and out in _UNSIGNED_WIDEN:
        out = _UNSIGNED_WIDEN[out]
    return out


_IDENT = r"`?([A-Za-z_][A-Za-z0-9_]*)`?"
_TABLE = rf"{_IDENT}(?:\.{_IDENT})?"


def _table_name(m1: str, m2: str | None) -> str:
    return f"{m1}.{m2}" if m2 else m1


def _default_literal(clause: str):
    """Literal DEFAULT value of a column clause, or None when absent,
    NULL, or non-literal (CURRENT_TIMESTAMP, expressions, bit
    literals). MySQL/TiDB give EXISTING rows the declared default on
    ADD COLUMN — the reference inherits that by executing the DDL on
    TiDB (syncer/syncer.go:1117-1232); the lake mirrors it by filling
    pre-DDL rows with this literal at read time
    (lake.table._Shape.projection).
    Non-literal defaults stay a NULL backfill: CURRENT_TIMESTAMP-style
    backfill is evaluation-time-dependent and cannot replay
    deterministically. The DEFAULT keyword is located on the MASKED
    copy (so a COMMENT string cannot fake one); the value is read from
    the ORIGINAL text at the same offsets."""
    masked = _mask_strings(clause)
    m = re.search(r"(?i)\bDEFAULT\s+", masked)
    if not m:
        return None
    rest, rest_m = clause[m.end():], masked[m.end():]
    if rest_m[:1] in ("'", '"'):
        q = rest_m[0]
        # escape sequences are blanked in the mask, so the first
        # surviving quote char after the opener is the true terminator
        j = rest_m.find(q, 1)
        if j < 0:
            return None
        raw = rest[1:j]
        return raw.replace("\\" + q, q).replace(q + q, q).replace("\\\\", "\\")
    t = re.match(r"[^\s,]+", rest_m)
    tok = rest[: t.end()] if t else ""
    if re.fullmatch(r"-?[0-9]+", tok):
        return int(tok)
    if re.fullmatch(r"-?[0-9]*\.[0-9]+", tok):
        return float(tok)
    # TRUE/FALSE are deterministic literals too (MySQL BOOLEAN is
    # TINYINT; lit(bool).cast fills 1/0 or true/false per mapped type)
    if tok.upper() == "TRUE":
        return True
    if tok.upper() == "FALSE":
        return False
    return None


def _mask_strings(s: str) -> str:
    """Same-length copy with quoted-literal CONTENTS blanked (quotes
    kept), so structural scans — paren balancing, clause splitting,
    keyword heuristics — cannot be fooled by a ')' , ',' or keyword
    inside a DEFAULT/COMMENT string (review r5: an unbalanced ')' in a
    DEFAULT literal silently truncated the CREATE body and dropped the
    trailing columns). Handles backslash and doubled-quote escapes;
    backtick identifier contents blank too (names are always extracted
    from the ORIGINAL text, the mask is structure-only)."""
    out = list(s)
    i, n = 0, len(s)
    while i < n:
        ch = s[i]
        if ch in ("'", '"', "`"):
            q = ch
            i += 1
            while i < n:
                c = s[i]
                if c == "\\" and q != "`" and i + 1 < n:
                    out[i] = " "
                    out[i + 1] = " "
                    i += 2
                    continue
                if c == q:
                    if i + 1 < n and s[i + 1] == q:  # '' / "" / `` escape
                        out[i] = " "
                        out[i + 1] = " "
                        i += 2
                        continue
                    break
                out[i] = " "
                i += 1
        i += 1
    return "".join(out)


def _split_clauses(body: str) -> list[str]:
    """Split an ALTER / CREATE body on top-level commas (commas inside
    type parens, e.g. decimal(10,2), or inside string literals don't
    split)."""
    out, depth, cur = [], 0, []
    for ch, m in zip(body, _mask_strings(body)):
        # structure (parens/commas) judged on the MASK; text kept whole
        if m == "(":
            depth += 1
        elif m == ")":
            depth -= 1
        if m == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur).strip())
    return [c for c in out if c]


def _key_names(arglist: str) -> list[str]:
    """Key-part list -> plain column names; raises on anything that
    isn't a plain identifier after stripping backticks, prefix lengths
    (`txt(16)`), and ASC/DESC — a corrupt name must never leak into a
    key/ladder."""
    out = []
    for a in arglist.split(","):
        n = re.sub(r"(?i)[`\s]|\(\d+\)|\b(asc|desc)\b", "", a)
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", n):
            raise UnsupportedDdl(f"unsupported key part: {a.strip()}")
        out.append(n)
    return out


def _parse_create_body(body: str) -> tuple[list, list, list, list]:
    """CREATE TABLE body -> (columns, primary key, unique keys,
    generated columns). Secondary KEY/INDEX entries are ignored (no
    physical index on a bucketed lake table); FOREIGN KEY constraints
    are unsupported (reference drops them from shard-merge targets
    anyway). Generated columns are returned by NAME only: they are
    tracked-but-never-replicated (syncer/dml.go:358-395) — the caller
    registers them for image pruning instead of declaring them as data
    columns."""
    cols: list[tuple[str, str]] = []
    pk: list[str] = []
    uks: list[list[str]] = []
    gens: list[str] = []

    names = _key_names

    for clause in _split_clauses(body):
        c = clause.strip()
        # greedy `\((.*)\)$` captures through NESTED parens — prefix
        # lengths like PRIMARY KEY (txt(16)) are a standard MySQL shape
        # for TEXT/BLOB keys; a `[^)]*` capture would stop at the inner
        # ')' and silently emit the corrupt column name 'txt(16'.
        # Optional trailing CLUSTERED/NONCLUSTERED (TiDB) and an
        # optional constraint name (MySQL ignores PK names) both parse.
        if cm := re.match(
            rf"(?i)^PRIMARY KEY ?(?:{_IDENT} ?)?\((.*?)\)(?: (?:NON)?CLUSTERED)?$", c
        ):
            pk = names(cm.group(2))
        elif cm := re.match(
            rf"(?i)^(?:CONSTRAINT {_IDENT} )?UNIQUE(?: KEY| INDEX)? ?(?:{_IDENT} ?)?\((.*)\)$",
            c,
        ):
            uks.append(names(cm.group(3)))
        elif re.match(rf"(?i)^(?:FULLTEXT |SPATIAL )?(?:KEY|INDEX) ?(?:{_IDENT} ?)?\(", c):
            continue  # secondary index: no-op on a lake table
        elif re.match(r"(?i)^(?:CONSTRAINT|FOREIGN KEY|CHECK)", c):
            raise UnsupportedDdl(clause)
        elif cm := re.match(rf"(?i)^{_IDENT} (.+)$", c):
            name, rest = cm.group(1), cm.group(2)
            if _GENERATED_RE.search(_mask_strings(rest)):
                # declared generated: never a data column — the value is
                # computed upstream and must not replicate (dml.go:358)
                gens.append(name)
                continue
            if re.search(r"(?i)\bPRIMARY KEY\b", rest):
                pk = [name]
            if re.search(r"(?i)\bUNIQUE\b", rest) and not re.search(
                r"(?i)\bPRIMARY KEY\b", rest
            ):
                uks.append([name])
            cols.append((name, map_type(rest)))
        else:
            raise UnsupportedDdl(clause)
    return cols, pk, uks, gens


# generated columns are tracked upstream but never replicated by value
# (the reference prunes them from DML, syncer/dml.go:358); silently
# adding one as a plain column would store NULLs that look like data.
# Matches the bare `<type> AS (expr)` form too — MySQL treats it as
# generated (VIRTUAL by default) without the GENERATED ALWAYS or
# VIRTUAL/STORED words (review r5). ALWAYS search this over
# _mask_strings(text): a DEFAULT 'as (x)' literal must not classify a
# data column as generated.
_GENERATED_RE = re.compile(r"(?i)\bGENERATED ALWAYS AS\b|\bAS ?\(")

# ALTER clauses with no physical analog on a bucketed lake table —
# consumed as explicit no-ops (the reference executes them downstream;
# here there is no index/engine/charset object to mutate, and strings
# are always UTF-8): secondary index DDL, index visibility/rename,
# storage/charset table options
_NOOP_ALTER_RE = re.compile(
    r"(?i)^("
    r"ADD (?:FULLTEXT |SPATIAL )?(?:INDEX|KEY)\b"  # UNIQUE handled as add_unique_key
    r"|DROP (?:INDEX|KEY)\b"
    r"|RENAME (?:INDEX|KEY) .+ TO .+"
    r"|ALTER INDEX\b"
    r"|(?:DEFAULT )?CHARACTER SET\b|(?:DEFAULT )?CHARSET\b"
    r"|CONVERT TO CHARACTER SET\b|COLLATE\b"
    r"|ENGINE ?=|AUTO_INCREMENT ?=|COMMENT ?=|ROW_FORMAT ?="
    r")"
)

# the reference's built-in skip-DDL surface (pkg/utils/util.go:45-100,
# applied to every query event at syncer/filter.go:31,97): statement
# families that appear in real binlog query streams but have no
# replication effect — transaction markers, table maintenance,
# temporary tables, triggers/procedures/views/functions, tablespaces,
# scheduler events, and account management. These are SILENTLY skipped
# (return [] — no error-operator detour), exactly like the reference;
# everything else outside the grammar still rejects loudly.
_BUILTIN_SKIP_RE = re.compile(
    r"(?i)^("
    r"SAVEPOINT\b"
    r"|FLUSH\b"
    r"|(?:OPTIMIZE|ANALYZE|REPAIR) TABLE\b"
    r"|DROP TEMPORARY TABLE\b"
    r"|CREATE (?:DEFINER ?=.+? )?TRIGGER\b|DROP TRIGGER\b"
    r"|CREATE (?:DEFINER ?=.+? )?PROCEDURE\b|ALTER PROCEDURE\b|DROP PROCEDURE\b"
    r"|CREATE (?:OR REPLACE )?(?:ALGORITHM ?=.+? )?(?:DEFINER ?=.+? )?"
    r"(?:SQL SECURITY \w+ )?VIEW\b|ALTER (?:ALGORITHM ?=.+? )?"
    r"(?:DEFINER ?=.+? )?(?:SQL SECURITY \w+ )?VIEW\b|DROP VIEW\b"
    r"|CREATE (?:AGGREGATE )?(?:DEFINER ?=.+? )?FUNCTION\b"
    r"|ALTER FUNCTION\b|DROP FUNCTION\b"
    r"|(?:CREATE|ALTER|DROP) TABLESPACE\b"
    r"|CREATE (?:DEFINER ?=.+? )?EVENT\b"
    r"|ALTER (?:DEFINER ?=.+? )?EVENT\b|DROP EVENT\b"
    r"|GRANT\b|REVOKE\b"
    r"|(?:CREATE|ALTER|RENAME|DROP) USER\b|SET PASSWORD\b"
    r")"
)

# clauses that change data or merge identity — never silent
_REJECT_ALTER_RE = re.compile(
    r"(?i)^("
    r"ADD PRIMARY KEY\b|DROP PRIMARY KEY\b"  # merge identity is fixed at create
    r"|ADD PARTITION\b|DROP PARTITION\b|TRUNCATE PARTITION\b"
    r"|REORGANIZE PARTITION\b|COALESCE PARTITION\b|REMOVE PARTITIONING\b"
    r"|PARTITION BY\b|EXCHANGE PARTITION\b"  # partition ops move/delete data
    r"|ADD (?:CONSTRAINT|FOREIGN KEY|CHECK)\b|DROP (?:FOREIGN KEY|CHECK|CONSTRAINT)\b"
    r")"
)


def parse_ddl(
    sql: str, file_seq: int, pos: int, ansi_quotes: bool = False
) -> list["DdlEvent"]:
    """One DDL statement -> ordered atomic DdlEvents (suffix per clause).

    `ansi_quotes=True` treats double-quoted tokens as identifiers
    (MySQL sql_mode=ANSI_QUOTES, the reference's tests/sql_mode suite;
    the TiDB parser receives the session sql_mode, syncer/ddl.go:33-47)
    — they normalize to plain identifiers before parsing. Statements
    with no schema effect on a lake table (CREATE/ALTER DATABASE,
    SET-like options) return []; statements whose effect exists but is
    out of surface raise UnsupportedDdl and route to the error-operator
    escape hatch."""
    # MySQL conditional comments /*!50100 ... */ carry EXECUTABLE
    # content (mysqldump stamps partition clauses and index options in
    # them): keep the contents and strip only the markers, so a hidden
    # PARTITION BY reaches the reject surface loudly instead of being
    # deleted with the comment and silently changing the statement's
    # semantics (ADVICE r04 #4). Plain comments (gh-ost stamps them)
    # still strip whole.
    s = re.sub(r"/\*!\d*\s*(.*?)\s*\*/", r" \1 ", sql, flags=re.S)
    s = re.sub(r"/\*.*?\*/", " ", s, flags=re.S)
    s = re.sub(r"(?m)--\s.*$", " ", s)
    if ansi_quotes:
        s = re.sub(r'"([A-Za-z_][A-Za-z0-9_]*)"', r"\1", s)
    s = re.sub(r"\s+", " ", s.strip().rstrip(";")).strip()
    # backtick-quoted identifiers whose contents fall outside the plain
    # grammar (`my-db`.`t`, `a/b` — legal MySQL, common in the wild)
    # are masked to safe tokens before parsing and restored in the
    # returned events; the span scan runs on the string-masked copy so
    # a backtick inside a '...' literal cannot open a span
    s, bq = _mask_special_idents(s)
    evs = _parse_normalized(s, sql, file_seq, pos)
    if bq:
        evs = [_restore_idents(ev, bq) for ev in evs]
    return evs


_PLAIN_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")


def _mask_special_idents(s: str) -> tuple[str, dict]:
    """Replace backtick-quoted identifiers the plain `_IDENT` grammar
    cannot carry (hyphens, slashes, dots, spaces, leading digits,
    doubled-backtick escapes) with `__bqN__` tokens, returning the
    rewritten statement and the token -> original-name mapping. Plain
    quoted identifiers pass through untouched."""
    mapping: dict = {}
    masked = _mask_strings(s)
    out = []
    i, n = 0, len(s)
    while i < n:
        if masked[i] == "`":
            j = i + 1
            while j < n and masked[j] != "`":
                j += 1
            if j >= n:  # unbalanced quote: leave as-is, parser rejects
                out.append(s[i:])
                break
            body = s[i + 1 : j].replace("``", "`")
            if _PLAIN_IDENT_RE.fullmatch(body):
                out.append(s[i : j + 1])
            else:
                tok = f"__bq{len(mapping)}__"
                mapping[tok] = body
                out.append(f"`{tok}`")
            i = j + 1
            continue
        out.append(s[i])
        i += 1
    return "".join(out), mapping


def _restore_idents(ev, bq: dict):
    """Swap `__bqN__` tokens back to the original identifier text in
    every string field of a DdlEvent (tables, columns, key lists,
    generated-column names, expressions)."""
    import dataclasses

    def fix(v):
        if isinstance(v, str):
            for tok, orig in bq.items():
                if tok in v:
                    v = v.replace(tok, orig)
            return v
        if isinstance(v, list):
            return [fix(x) for x in v]
        if isinstance(v, tuple):
            return tuple(fix(x) for x in v)
        return v

    return dataclasses.replace(
        ev, **{f.name: fix(getattr(ev, f.name)) for f in dataclasses.fields(ev)}
    )


def _parse_normalized(s: str, sql: str, file_seq: int, pos: int) -> list:
    """Grammar body over one normalized, identifier-masked statement
    (`sql` is the caller's original text, used verbatim in
    UnsupportedDdl messages)."""
    # deferred: plans.replay imports the schema package back (online-DDL
    # classify / registry), so a top-level import here is a cycle
    from dm_spark.plans.replay import DdlEvent

    # the reference's built-in skip families (checked FIRST, like
    # syncer/filter.go:31 — e.g. DROP TEMPORARY TABLE must skip before
    # the generic DROP TABLE branch would treat it as a lake drop)
    if _BUILTIN_SKIP_RE.match(s):
        return []
    # statements with NO schema effect here: database-level DDL (the
    # lake has no per-database object — tables materialize on CREATE
    # TABLE; DROP DATABASE below is the exception since it drops data)
    if re.match(r"(?i)^(CREATE|ALTER) (DATABASE|SCHEMA)\b", s):
        return []
    # standalone index DDL: UNIQUE is identity-relevant (see the ALTER
    # add_unique_key branch); plain/fulltext/spatial index is a no-op
    m = re.match(rf"(?i)^CREATE UNIQUE INDEX {_IDENT} ON {_TABLE} ?\((.*)\)$", s)
    if m:
        return [
            DdlEvent(
                "add_unique_key", _table_name(m.group(2), m.group(3)),
                file_seq, pos, unique_keys=[_key_names(m.group(4))],
            )
        ]
    if re.match(r"(?i)^CREATE (?:FULLTEXT |SPATIAL )?INDEX .+ ON ", s):
        return []
    if re.match(r"(?i)^DROP INDEX .+ ON ", s):
        return []

    if re.match(r"(?i)^RENAME TABLE ", s):
        # supports the multi-rename form — gh-ost's real atomic
        # cut-over is a single statement:
        #   RENAME TABLE t TO _t_del, _t_gho TO t
        # each pair becomes its own rename_table event at a suffix
        # ordinal, replayed in statement order (online_ddl.go:446-508
        # resolves the ghost->real swap from the second pair)
        out = []
        for i, pair in enumerate(s[len("RENAME TABLE "):].split(",")):
            m = re.fullmatch(rf"(?i)\s*{_TABLE} TO {_TABLE}\s*", pair)
            if not m:
                raise UnsupportedDdl(sql)
            src = _table_name(m.group(1), m.group(2))
            dst = _table_name(m.group(3), m.group(4))
            out.append(
                DdlEvent(
                    "rename_table", src, file_seq, pos,
                    target_table=dst, suffix=i,
                )
            )
        return out

    # table lifecycle (shard-mode pre-filter surface,
    # syncer/syncer.go:2299-2337): CREATE / DROP / TRUNCATE TABLE
    m = re.match(rf"(?i)^CREATE TABLE (?:IF NOT EXISTS )?{_TABLE} ?\(", s)
    if m:
        table = _table_name(m.group(1), m.group(2))
        # balanced-paren body extraction: a `\((.*)\)[^)]*$` regex swept
        # a trailing `PARTITION BY RANGE (...) (PARTITION p0 ...)` INTO
        # the column body and silently misparsed it (the hazard the
        # conditional-comment unveil above now exposes). Parens are
        # balanced on the STRING-MASKED text so a ')' inside a
        # DEFAULT/COMMENT literal cannot truncate the body (review r5).
        start = m.end() - 1
        masked = _mask_strings(s)
        depth = 0
        end = -1
        for i in range(start, len(masked)):
            if masked[i] == "(":
                depth += 1
            elif masked[i] == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
        if end < 0:
            raise UnsupportedDdl(sql)
        tail_mask = masked[end + 1:].strip()
        if tail_mask and (
            "(" in tail_mask
            or re.search(r"(?i)\b(PARTITION|SELECT|LIKE|UNION|AS)\b", tail_mask)
        ):
            # data-shaping tails (partition spec, CREATE..AS SELECT)
            # must never be silently dropped as "table options" — but
            # the check runs on the MASK, so a COMMENT='... (as is)'
            # table option cannot false-reject a valid statement
            raise UnsupportedDdl(sql)
        cols, pk, uks, gens = _parse_create_body(s[start + 1:end])
        return [
            DdlEvent(
                "create_table", table, file_seq, pos,
                columns=cols, key=pk, unique_keys=uks,
                generated=gens or None,
            )
        ]
    m = re.match(r"(?i)^DROP TABLE (?:IF EXISTS )?(.+)$", s)
    if m:
        # MySQL allows a comma list: DROP TABLE t1, t2 — one event each
        out = []
        for i, t in enumerate(m.group(1).split(",")):
            tm = re.fullmatch(rf"(?i)\s*{_TABLE}\s*", t)
            if not tm:
                raise UnsupportedDdl(sql)
            out.append(
                DdlEvent(
                    "drop_table", _table_name(tm.group(1), tm.group(2)),
                    file_seq, pos, suffix=i,
                )
            )
        return out
    m = re.match(rf"(?i)^DROP (?:DATABASE|SCHEMA) (?:IF EXISTS )?{_IDENT}$", s)
    if m:
        # schema-level drop: the runner expands it to drop_table over
        # every tracked table in that schema (dropSchemaInSharding,
        # syncer/syncer.go:2301-2306)
        return [DdlEvent("drop_database", m.group(1), file_seq, pos)]
    m = re.match(rf"(?i)^TRUNCATE (?:TABLE )?{_TABLE}$", s)
    if m:
        return [
            DdlEvent("truncate_table", _table_name(m.group(1), m.group(2)), file_seq, pos)
        ]

    m = re.match(rf"(?i)^ALTER TABLE {_TABLE} (.*)$", s)
    if not m:
        raise UnsupportedDdl(sql)
    table = _table_name(m.group(1), m.group(2))
    events: list[DdlEvent] = []

    def emit(action: str, **kw) -> None:
        events.append(
            DdlEvent(action, table, file_seq, pos, suffix=len(events), **kw)
        )

    # trailing column-definition attributes that carry no type info
    _TAIL = r"(?: (?:NULL|NOT NULL|DEFAULT .*|COMMENT .*|FIRST|AFTER .*))?"
    for clause in _split_clauses(m.group(3)):
        c = clause.strip()
        if um := re.match(
            rf"(?i)^ADD (?:CONSTRAINT {_IDENT} )?UNIQUE(?: KEY| INDEX)? ?(?:{_IDENT} ?)?\((.*)\)$",
            c,
        ):
            # a new unique key is IDENTITY-relevant on tables using the
            # declared-UK merge ladder (a row's identity string is
            # hashed into its bucket — extending the ladder mid-stream
            # would re-identify existing rows), so it becomes an
            # explicit event: the runner refuses it loudly on ladder
            # tables and no-ops it on plain-PK tables (advisory index).
            # Matched BEFORE _REJECT_ALTER_RE: its 'ADD CONSTRAINT'
            # alternative otherwise swallows the common
            # 'ADD CONSTRAINT name UNIQUE (cols)' form and halts
            # replication on a valid statement (ADVICE r04 #1)
            emit("add_unique_key", unique_keys=[_key_names(um.group(3))])
            continue
        if _REJECT_ALTER_RE.match(c):
            # identity / partition / constraint changes move or delete
            # data — never a silent no-op; the operator decides
            raise UnsupportedDdl(clause)
        if _NOOP_ALTER_RE.match(c):
            continue  # index/charset/engine surface: no lake analog
        if re.match(r"(?i)^ADD (?:COLUMN )?", c) and _GENERATED_RE.search(
            _mask_strings(c)
        ):
            # ADD of a generated column: tracked upstream but its value
            # is never replicated (syncer/dml.go:358-395) — register it
            # as generated-and-pruned so the existing pruning path
            # handles it end-to-end, instead of forcing an
            # error-operator detour (VERDICT r04 #3)
            nm = re.match(rf"(?i)^ADD (?:COLUMN )?{_IDENT}\b", c)
            if not nm:
                raise UnsupportedDdl(clause)
            emit("add_generated_column", column=nm.group(1))
            continue
        if _GENERATED_RE.search(_mask_strings(c)):
            # MODIFY/CHANGE of a generated column still rejects: it can
            # flip a column between generated and stored-data semantics
            raise UnsupportedDdl(
                f"generated column DDL: {clause} — add it to "
                "generated_columns config (values are never replicated)"
            )
        if cm := re.match(r"(?i)^ADD (?:COLUMN )?\((.*)\)$", c):
            # paren group form: ADD COLUMN (a INT, b INT)
            for col in _split_clauses(cm.group(1)):
                nm = re.match(rf"(?i)^{_IDENT} (.+)$", col.strip())
                if not nm:
                    raise UnsupportedDdl(col)
                emit(
                    "add_column", column=nm.group(1), new_type=map_type(nm.group(2)),
                    default=_default_literal(col),
                )
        elif cm := re.match(rf"(?i)^ADD (?:COLUMN )?{_IDENT} (.+?){_TAIL}$", c):
            emit(
                "add_column", column=cm.group(1), new_type=map_type(cm.group(2)),
                default=_default_literal(c),
            )
        elif cm := re.match(rf"(?i)^DROP (?:COLUMN )?{_IDENT}$", c):
            emit("drop_column", column=cm.group(1))
        elif cm := re.match(rf"(?i)^RENAME (?:COLUMN )?{_IDENT} TO {_IDENT}$", c):
            emit("rename_column", column=cm.group(1), new_name=cm.group(2))
        elif cm := re.match(rf"(?i)^RENAME (?:TO |AS )?{_TABLE}$", c):
            # ALTER TABLE t RENAME [TO|AS] t2 — same event as RENAME TABLE
            emit("rename_table", target_table=_table_name(cm.group(1), cm.group(2)))
        elif cm := re.match(rf"(?i)^MODIFY (?:COLUMN )?{_IDENT} (.+?){_TAIL}$", c):
            emit("widen_type", column=cm.group(1), new_type=map_type(cm.group(2)))
        elif cm := re.match(rf"(?i)^CHANGE (?:COLUMN )?{_IDENT} {_IDENT} (.+?){_TAIL}$", c):
            # MySQL CHANGE = rename + retype: two atomic events. The
            # idiomatic retype form `CHANGE c c BIGINT` (old == new) is
            # a pure widen — emitting a self-rename would wrongly trip
            # the key-column rename guard (ADVICE r02).
            old, new, typ = cm.group(1), cm.group(2), map_type(cm.group(3))
            if old != new:
                emit("rename_column", column=old, new_name=new)
            emit("widen_type", column=new, new_type=typ)
        else:
            raise UnsupportedDdl(clause)
    return events
