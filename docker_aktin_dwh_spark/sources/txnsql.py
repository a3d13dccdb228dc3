"""SQL statement surface for the txnlog WRITE verbs (r15, VERDICT r14
item 5).

The engine spoke UPDATE/DELETE/MERGE/ALTER only through Python APIs;
the reference's users speak SQL to stock Postgres
(src/docker/database/Dockerfile:8).  :func:`sql` is a THIN dispatcher:
it parses the five statement shapes below against txnlog paths and
routes each to its Python verb — every grammar corner it does not
cover raises a loud error naming the supported shape and the Python
API, never a silent misparse.

Supported statements (table = ``txnlog.`/path``` or a name resolved
through the ``tables`` mapping)::

    UPDATE <t> SET col = <sql expr>[, ...] WHERE <conjunction>
    DELETE FROM <t> WHERE <conjunction>
    MERGE INTO <t> USING <view|(subquery)> [AS a] ON <t>.<k> = <s>.<k>
        WHEN MATCHED [AND <s>.<op> = '<del>'] THEN DELETE
        [WHEN MATCHED THEN UPDATE SET *]
        [WHEN NOT MATCHED THEN INSERT *]
    ALTER TABLE <t> RENAME COLUMN a TO b
                  | DROP COLUMN a
                  | ADD COLUMN a <type>
                  | ALTER COLUMN a TYPE <type>
                  | DROP PARTITION (c = <lit>[, ...])
    INSERT INTO <t> [(col, ...)] VALUES (lit, ...)[, ...]
    INSERT INTO <t> [(col, ...)] SELECT ... | <view> | (subquery)
    CREATE TABLE <t> [USING txnlog] [PARTITIONED BY (c[, ...])]
        [TBLPROPERTIES ('key' = '<k>')] AS <query>
    VACUUM <t> [RETAIN <n> HOURS]
    OPTIMIZE <t> [WHERE <partition equality conjunction>]
        [ZORDER BY (a, b)]
    RESTORE TABLE <t> TO VERSION AS OF <n>
    DESCRIBE HISTORY <t>
    SELECT / WITH ... over <t> [VERSION AS OF n | TIMESTAMP AS OF
        'ts'] — rewritten to temp views, run through spark.sql

``WHERE`` is a conjunction of ``col <op> literal`` terms (op in
=, <, <=, >, >=, IN) — exactly the (col, op, literal) filter language
update_where/delete_where prune and evaluate with; SET expressions
pass through verbatim as SQL expression strings (update_where
evaluates all of them against the PRE-update row at once).  MERGE with
``UPDATE SET * / INSERT *`` is txnlog.merge's delete+insert contract;
adding the ``WHEN MATCHED AND op THEN DELETE`` arm routes to
apply_changes (the one-commit CDC shape).  All statements honor the
logged merge key (create_table's ``key=``) unless ``key=`` overrides.
"""

from __future__ import annotations

import datetime
import re

from pyspark.sql import DataFrame, SparkSession

from ..session import local_frame
from . import txnlog

_TABLE_REF = re.compile(r"txnlog\.`([^`]+)`")
_IDENT = r'(?:[A-Za-z_][A-Za-z_0-9]*|"[^"]+")'


class SqlSurfaceError(ValueError):
    """Statement outside the dispatcher's declared grammar."""


def _unq(ident: str) -> str:
    return ident[1:-1] if ident.startswith('"') else ident


def _resolve_table(ref: str, tables: dict[str, str] | None) -> str:
    m = _TABLE_REF.fullmatch(ref.strip())
    if m:
        return m.group(1)
    name = _unq(ref.strip())
    if tables and name in tables:
        return tables[name]
    raise SqlSurfaceError(
        f"unknown table {ref!r} — use txnlog.`/path` or pass "
        f"tables={{name: path}}")


def _split_top(s: str, sep_re: str) -> list[str]:
    """Split on a regex separator at paren/quote depth 0."""
    parts, buf, depth, i, n = [], [], 0, 0, len(s)
    pat = re.compile(sep_re, re.IGNORECASE)
    while i < n:
        ch = s[i]
        if ch == "'":
            j = i + 1
            while j < n:
                if s[j] == "'" and not (j + 1 < n and s[j + 1] == "'"):
                    break
                j += 2 if s[j] == "'" else 1
            buf.append(s[i:j + 1])
            i = j + 1
            continue
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
        if depth == 0:
            m = pat.match(s, i)
            if m:
                parts.append("".join(buf))
                buf = []
                i = m.end()
                continue
        buf.append(ch)
        i += 1
    parts.append("".join(buf))
    return parts


def _parse_literal(tok: str):
    t = tok.strip()
    m = re.fullmatch(r"DATE\s*'([^']*)'", t, re.IGNORECASE)
    if m:
        return datetime.date.fromisoformat(m.group(1))
    m = re.fullmatch(r"TIMESTAMP\s*'([^']*)'", t, re.IGNORECASE)
    if m:
        return datetime.datetime.fromisoformat(
            m.group(1).replace(" ", "T"))
    if t.startswith("'") and t.endswith("'"):
        return t[1:-1].replace("''", "'")
    if re.fullmatch(r"[+-]?\d+", t):
        return int(t)
    try:
        return float(t)
    except ValueError:
        raise SqlSurfaceError(
            f"unsupported literal {tok!r} (number, 'string', DATE "
            f"'...', TIMESTAMP '...')")


def _parse_conjunction(s: str) -> list[tuple[str, str, object]]:
    """``col <op> literal [AND ...]`` → the (col, op, literal) filter
    conjunction update_where/delete_where speak."""
    filters = []
    for term in _split_top(s, r"\bAND\b"):
        term = term.strip()
        m = re.fullmatch(
            rf"({_IDENT})\s*(=|<=|>=|<>|!=|<|>)\s*(.+)", term,
            re.DOTALL)
        if m:
            op = m.group(2)
            if op in ("<>", "!="):
                raise SqlSurfaceError(
                    "<> is not a pruning-safe conjunction term; use "
                    "the Python API with an explicit predicate")
            filters.append((_unq(m.group(1)), op,
                            _parse_literal(m.group(3))))
            continue
        m = re.fullmatch(rf"({_IDENT})\s+IN\s*\((.+)\)", term,
                         re.IGNORECASE | re.DOTALL)
        if m:
            vals = [_parse_literal(v)
                    for v in _split_top(m.group(2), r",")]
            filters.append((_unq(m.group(1)), "in", vals))
            continue
        raise SqlSurfaceError(
            f"WHERE term {term!r} outside the col-op-literal "
            f"conjunction grammar (AND of =, <, <=, >, >=, IN)")
    if not filters:
        raise SqlSurfaceError("empty WHERE conjunction")
    return filters


def _table_key(path: str, key: str | None) -> str:
    if key is not None:
        return key
    k = txnlog.snapshot(path).key
    if k is None:
        raise SqlSurfaceError(
            f"table at {path} logs no merge key; pass key=...")
    return k


def _source_frame(spark: SparkSession, src: str) -> DataFrame:
    src = src.strip()
    if src.startswith("("):
        return spark.sql(src[1:-1])
    return spark.table(src)


def sql(spark: SparkSession, statement: str, *,
        tables: dict[str, str] | None = None,
        key: str | None = None):
    """Execute one statement against txnlog tables.  Write verbs
    return the resulting :class:`txnlog.Snapshot`; SELECT/WITH and
    DESCRIBE HISTORY return a :class:`DataFrame`; VACUUM returns the
    reclaimed-file list."""
    stmt = statement.strip().rstrip(";").strip()
    head = stmt.split(None, 1)[0].upper() if stmt else ""
    if head == "UPDATE":
        m = re.fullmatch(
            r"UPDATE\s+(\S+)\s+SET\s+(.+?)\s+WHERE\s+(.+)", stmt,
            re.IGNORECASE | re.DOTALL)
        if not m:
            raise SqlSurfaceError(
                "UPDATE shape: UPDATE <t> SET col = expr[, ...] "
                "WHERE <conjunction> (WHERE is required — an "
                "unfiltered UPDATE rewrites the table; use "
                "replace_contents)")
        path = _resolve_table(m.group(1), tables)
        assignments: dict[str, str] = {}
        for part in _split_top(m.group(2), r","):
            am = re.fullmatch(rf"\s*({_IDENT})\s*=\s*(.+?)\s*",
                              part, re.DOTALL)
            if not am:
                raise SqlSurfaceError(
                    f"SET clause {part.strip()!r} is not col = expr")
            assignments[_unq(am.group(1))] = am.group(2)
        return txnlog.update_where(
            spark, path, key=_table_key(path, key),
            filters=_parse_conjunction(m.group(3)),
            assignments=assignments)
    if head == "DELETE":
        m = re.fullmatch(r"DELETE\s+FROM\s+(\S+)\s+WHERE\s+(.+)",
                         stmt, re.IGNORECASE | re.DOTALL)
        if not m:
            raise SqlSurfaceError(
                "DELETE shape: DELETE FROM <t> WHERE <conjunction> "
                "(WHERE is required — an unfiltered DELETE empties "
                "the table; use replace_contents)")
        path = _resolve_table(m.group(1), tables)
        return txnlog.delete_where(
            spark, path, key=_table_key(path, key),
            filters=_parse_conjunction(m.group(2)))
    if head == "MERGE":
        return _merge(spark, stmt, tables, key)
    if head == "ALTER":
        return _alter(spark, stmt, tables)
    if head in ("SELECT", "WITH"):
        return _select(spark, stmt, tables)
    if head == "INSERT":
        return _insert(spark, stmt, tables, key)
    if head == "CREATE":
        return _create(spark, stmt, tables, key)
    if head == "VACUUM":
        return _vacuum(stmt, tables)
    if head == "OPTIMIZE":
        return _optimize(spark, stmt, tables, key)
    if head == "RESTORE":
        m = re.fullmatch(
            r"RESTORE\s+TABLE\s+(\S+)\s+TO\s+VERSION\s+AS\s+OF\s+"
            r"(\d+)", stmt, re.IGNORECASE)
        if not m:
            raise SqlSurfaceError(
                "RESTORE shape: RESTORE TABLE <t> TO VERSION AS OF n")
        return txnlog.restore(spark, _resolve_table(m.group(1), tables),
                              version=int(m.group(2)))
    if head == "DESCRIBE":
        m = re.fullmatch(r"DESCRIBE\s+HISTORY\s+(\S+)", stmt,
                         re.IGNORECASE)
        if not m:
            raise SqlSurfaceError(
                "DESCRIBE shape: DESCRIBE HISTORY <t>")
        return txnlog.describe_history(
            spark, _resolve_table(m.group(1), tables))
    raise SqlSurfaceError(
        f"statement kind {head!r} not dispatched here — supported: "
        f"SELECT / WITH (time travel via VERSION AS OF), UPDATE / "
        f"DELETE / MERGE / ALTER TABLE / INSERT / CREATE TABLE AS / "
        f"VACUUM / OPTIMIZE / RESTORE / DESCRIBE HISTORY")


def _skip_opaque(s: str, i: int) -> int:
    """If ``s[i]`` opens a region the SQL parser treats as opaque — a
    single- or double-quoted string literal (doubled-quote AND
    backslash escapes, Spark's default dialect) or a ``--`` / ``/*``
    comment — return the index just past it, else ``i``."""
    n = len(s)
    ch = s[i]
    if ch in ("'", '"'):
        j = i + 1
        while j < n:
            if s[j] == "\\":
                j += 2
                continue
            if s[j] == ch:
                if j + 1 < n and s[j + 1] == ch:
                    j += 2
                    continue
                return j + 1
            j += 1
        return n
    if ch == "-" and s[i:i + 2] == "--":
        j = s.find("\n", i)
        return n if j < 0 else j + 1
    if ch == "/" and s[i:i + 2] == "/*":
        j = s.find("*/", i + 2)
        return n if j < 0 else j + 2
    return i


def _strip_opaque(s: str) -> str:
    """The statement with every literal/comment region blanked —
    for structural keyword/name searches that must not match data."""
    out, i, n = [], 0, len(s)
    while i < n:
        j = _skip_opaque(s, i)
        if j > i:
            out.append(" " * (j - i))
            i = j
        else:
            out.append(s[i])
            i += 1
    return "".join(out)


def _select(spark: SparkSession, stmt: str,
            tables: dict[str, str] | None) -> DataFrame:
    """SELECT/WITH over txnlog tables: every ``txnlog.`/path```
    reference (optionally followed by ``VERSION AS OF n`` or
    ``TIMESTAMP AS OF 'ts'`` — Delta's time-travel clauses,
    timestamps interpreted in ``spark.sql.session.timeZone``) is
    materialized as a temp view and the rewritten statement runs
    through ordinary ``spark.sql`` — one entry point for the
    reference's SQL-speaking users, reads and writes alike.  The
    temp views are dropped again before returning (spark.sql
    analyzes eagerly, so the DataFrame stays valid)."""
    import hashlib

    if stmt.split(None, 1)[0].upper() == "WITH" and re.search(
            r"\b(INSERT\s+INTO|MERGE\s+INTO|DELETE\s+FROM"
            r"|UPDATE\s+\S+\s+SET)\b",
            _strip_opaque(stmt), re.IGNORECASE):
        raise SqlSurfaceError(
            "CTE-prefixed DML (WITH ... INSERT/UPDATE/DELETE/MERGE) "
            "is not dispatched — inline the CTE into the DML "
            "statement's source, or use the Python API")

    views: list[str] = []

    def repl(m: "re.Match[str]") -> str:
        path, verb, arg = m.group(1), m.group(2), m.group(3)
        version = ts = None
        if verb:
            if verb.upper().startswith("VERSION"):
                version = int(arg)
            else:
                import datetime as _dt
                from zoneinfo import ZoneInfo
                tz = ZoneInfo(spark.conf.get(
                    "spark.sql.session.timeZone"))
                ts = _dt.datetime.fromisoformat(
                    arg.strip("'").replace(" ", "T")) \
                    .replace(tzinfo=tz).timestamp()
        if ts is not None:
            version = txnlog.resolve_timestamp(path, ts)
        view = "_txnsql_" + hashlib.sha256(
            f"{path}@{version}".encode()).hexdigest()[:16]
        txnlog.read_table(spark, path, version) \
            .createOrReplaceTempView(view)
        views.append(view)
        return view

    ref = re.compile(
        r"txnlog\.`([^`]+)`"
        r"(?:\s+(VERSION\s+AS\s+OF|TIMESTAMP\s+AS\s+OF)\s+"
        r"(\d+|'[^']*'))?", re.IGNORECASE)
    # rewrite refs OUTSIDE string literals and comments only — a
    # quoted or commented txnlog.`x` is data, not a table reference
    out, i, n = [], 0, len(stmt)
    while i < n:
        j = _skip_opaque(stmt, i)
        if j > i:
            out.append(stmt[i:j])
            i = j
            continue
        m = ref.match(stmt, i)
        if m:
            out.append(repl(m))
            i = m.end()
        else:
            out.append(stmt[i])
            i += 1
    rewritten = "".join(out)
    # the tables mapping binds names that appear STRUCTURALLY (not
    # inside literals/comments — clobbering a user view over a match
    # in a string would silently redirect their later queries)
    structural = _strip_opaque(rewritten)
    for name, path in (tables or {}).items():
        if re.search(rf"\b{re.escape(name)}\b", structural):
            txnlog.read_table(spark, path) \
                .createOrReplaceTempView(name)
            views.append(name)
    try:
        return spark.sql(rewritten)
    finally:
        for v in views:
            if v.startswith("_txnsql_"):
                spark.catalog.dropTempView(v)


def _insert(spark: SparkSession, stmt: str,
            tables: dict[str, str] | None, key: str | None):
    """INSERT INTO → txnlog.append (blind append, never a rewrite).

    VALUES rows are parsed with the same literal grammar as WHERE
    terms and CAST to the logged schema; a column list reorders /
    shrinks the target set, with omitted NON-partition columns filled
    NULL (partition columns must be supplied — their values name the
    file's directory)."""
    from pyspark.sql import functions as F

    m = re.fullmatch(
        r"INSERT\s+INTO\s+(\S+)\s*(\(\s*(?!SELECT\b)[^)]*\))?\s*(.+)",
        stmt, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlSurfaceError(
            "INSERT shape: INSERT INTO <t> [(cols)] VALUES (...) | "
            "SELECT ... | <view>")
    path = _resolve_table(m.group(1), tables)
    snap = txnlog.snapshot(path)
    import json

    from pyspark.sql.types import StructType
    schema = StructType.fromJson(json.loads(snap.schema_json))
    names = [f.name for f in schema.fields]
    cols = ([_unq(c.strip()) for c in
             _split_top(m.group(2)[1:-1], r",")]
            if m.group(2) else list(names))
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise SqlSurfaceError(
            f"INSERT column(s) {unknown} not in the logged schema "
            f"{names} (ALTER TABLE ... ADD COLUMN first)")
    missing_p = [c for c in (snap.partition_by or []) if c not in cols]
    if missing_p:
        raise SqlSurfaceError(
            f"INSERT must supply partition column(s) {missing_p} — "
            f"their values name the file's directory (a NULL fill "
            f"would silently land rows in the null partition)")
    body = m.group(3).strip()
    vm = re.match(r"VALUES\s+(.+)", body, re.IGNORECASE | re.DOTALL)
    if vm:
        rows = []
        for tup in _split_top(vm.group(1), r","):
            tup = tup.strip()
            if not (tup.startswith("(") and tup.endswith(")")):
                raise SqlSurfaceError(
                    f"VALUES row {tup!r} is not a parenthesized "
                    f"tuple")
            vals = [None if v.strip().upper() == "NULL"
                    else _parse_literal(v)
                    for v in _split_top(tup[1:-1], r",")]
            if len(vals) != len(cols):
                raise SqlSurfaceError(
                    f"VALUES row has {len(vals)} values for "
                    f"{len(cols)} column(s) {cols}")
            rows.append(dict(zip(cols, vals)))
        by_name = {f.name: f for f in schema.fields}
        frame = local_frame(
            spark,
            [tuple(str(r[c]) if r[c] is not None else None
                   for c in cols) for r in rows],
            ", ".join(f"`{c}` string" for c in cols))
        frame = frame.select(*[
            F.col(c).cast(by_name[c].dataType).alias(c)
            for c in cols])
    else:
        src = (spark.sql(body)
               if re.match(r"SELECT\b", body, re.IGNORECASE)
               else _source_frame(spark, body))
        got = src.columns
        if len(got) != len(cols):
            raise SqlSurfaceError(
                f"INSERT SELECT yields {len(got)} column(s) for "
                f"{len(cols)} target(s) {cols}")
        by_name = {f.name: f for f in schema.fields}
        frame = src.select(*[
            F.col(g).cast(by_name[c].dataType).alias(c)
            for g, c in zip(got, cols)])
    by_name = {f.name: f for f in schema.fields}
    frame = frame.select(*[
        (F.col(c) if c in frame.columns
         else F.lit(None).cast(by_name[c].dataType)).alias(c)
        for c in names])
    return txnlog.append(spark, frame, path,
                         key=_table_key(path, key))


def _create(spark: SparkSession, stmt: str,
            tables: dict[str, str] | None, key: str | None):
    m = re.fullmatch(
        r"CREATE\s+TABLE\s+(\S+)"
        r"(?:\s+USING\s+txnlog)?"
        r"(?:\s+PARTITIONED\s+BY\s*\(([^)]*)\))?"
        r"(?:\s+TBLPROPERTIES\s*\(\s*'key'\s*=\s*'([^']+)'\s*\))?"
        r"\s+AS\s+(.+)", stmt, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlSurfaceError(
            "CREATE shape: CREATE TABLE <t> [USING txnlog] "
            "[PARTITIONED BY (c, ...)] [TBLPROPERTIES ('key'='k')] "
            "AS <query>")
    path = _resolve_table(m.group(1), tables)
    partition_by = ([_unq(c.strip()) for c in
                     _split_top(m.group(2), r",")]
                    if m.group(2) else None)
    k = key or m.group(3)
    if k is None:
        raise SqlSurfaceError(
            "CREATE TABLE needs the merge key: TBLPROPERTIES "
            "('key' = '<col>') or key=...")
    body = m.group(4).strip()
    df = (spark.sql(body)
          if re.match(r"SELECT\b", body, re.IGNORECASE)
          else _source_frame(spark, body))
    return txnlog.create_table(spark, df, path, key=k,
                               partition_by=partition_by)


def _vacuum(stmt: str, tables: dict[str, str] | None):
    m = re.fullmatch(
        r"VACUUM\s+(\S+)(?:\s+RETAIN\s+(\d+(?:\.\d+)?)\s+HOURS)?",
        stmt, re.IGNORECASE)
    if not m:
        raise SqlSurfaceError(
            "VACUUM shape: VACUUM <t> [RETAIN n HOURS]")
    path = _resolve_table(m.group(1), tables)
    if m.group(2) is not None:
        return txnlog.vacuum(
            path, retention_seconds=float(m.group(2)) * 3600.0)
    return txnlog.vacuum(path)


def _optimize(spark: SparkSession, stmt: str,
              tables: dict[str, str] | None, key: str | None):
    """OPTIMIZE → txnlog.compact; WHERE must be partition-column
    equalities (compact's partition_filter — a scoped rewrite), ZORDER
    BY takes exactly two columns (compact's interleave contract)."""
    m = re.fullmatch(
        r"OPTIMIZE\s+(\S+)"
        r"(?:\s+WHERE\s+(.+?))?"
        r"(?:\s+ZORDER\s+BY\s*\(([^)]*)\))?",
        stmt, re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlSurfaceError(
            "OPTIMIZE shape: OPTIMIZE <t> [WHERE c = lit [AND ...]] "
            "[ZORDER BY (a, b)]")
    path = _resolve_table(m.group(1), tables)
    pf = None
    if m.group(2):
        pf = {}
        for col, op, lit in _parse_conjunction(m.group(2)):
            if op != "=":
                raise SqlSurfaceError(
                    "OPTIMIZE WHERE terms must be partition "
                    "equalities (compact rewrites whole partitions)")
            pf[col] = lit
    zo = None
    if m.group(3):
        zcols = [_unq(c.strip()) for c in _split_top(m.group(3), r",")]
        if len(zcols) != 2:
            raise SqlSurfaceError(
                "ZORDER BY takes exactly two columns (the compact "
                "interleave contract)")
        zo = (zcols[0], zcols[1])
    return txnlog.compact(spark, path, key=_table_key(path, key),
                          partition_filter=pf, zorder_by=zo)


def _merge(spark: SparkSession, stmt: str,
           tables: dict[str, str] | None, key: str | None):
    m = re.fullmatch(
        r"MERGE\s+INTO\s+(\S+)(?:\s+AS\s+(\w+))?\s+"
        r"USING\s+(\(.*?\)|\S+)(?:\s+AS\s+(\w+))?\s+"
        r"ON\s+(.+?)\s+(WHEN\s+.+)", stmt,
        re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlSurfaceError(
            "MERGE shape: MERGE INTO <t> [AS a] USING <view|(query)> "
            "[AS b] ON a.k = b.k WHEN ... THEN ...")
    tref, talias, sref, salias, on, whens_raw = m.groups()
    path = _resolve_table(tref, tables)
    k = _table_key(path, key)
    om = re.fullmatch(
        rf"(\w+)\.({_IDENT})\s*=\s*(\w+)\.({_IDENT})", on.strip())
    if not om:
        raise SqlSurfaceError(
            f"MERGE ON must be one equi-key term a.k = b.k, got "
            f"{on.strip()!r}")
    on_cols = {_unq(om.group(2)), _unq(om.group(4))}
    if on_cols != {k}:
        raise SqlSurfaceError(
            f"MERGE ON must join the logged merge key {k!r} to "
            f"itself, got {sorted(on_cols)}")
    src = _source_frame(spark, sref)
    clauses = []
    for w in re.split(r"(?i)\bWHEN\b", whens_raw):
        w = w.strip()
        if not w:
            continue
        cm = re.fullmatch(
            r"(NOT\s+MATCHED|MATCHED)"
            r"(?:\s+AND\s+(?:(\w+)\.)?(\w+)\s*=\s*'([^']*)')?"
            r"\s+THEN\s+(.+)", w, re.IGNORECASE | re.DOTALL)
        if not cm:
            raise SqlSurfaceError(f"WHEN clause {w!r} unsupported")
        matched = cm.group(1).upper().replace(" ", "") == "MATCHED"
        cond = (cm.group(3), cm.group(4)) if cm.group(3) else None
        action = re.sub(r"\s+", " ", cm.group(5).strip().upper())
        clauses.append((matched, cond, action))
    shapes = {(mt, act) for mt, _c, act in clauses}
    has_delete = any(act == "DELETE" for _m, _c, act in clauses)
    if not has_delete:
        # classic upsert: UPDATE SET * + INSERT * → txnlog.merge
        if shapes <= {(True, "UPDATE SET *"), (False, "INSERT *")} \
                and (False, "INSERT *") in shapes:
            return txnlog.merge(spark, path, src, key=k)
        raise SqlSurfaceError(
            "supported MERGE actions: UPDATE SET * / INSERT * / "
            "DELETE (column-level SET lists are the UPDATE "
            "statement's job)")
    # CDC shape → apply_changes: the DELETE arm's condition names the
    # op column and delete token; rows NOT matching it upsert
    del_conds = [c for mt, c, act in clauses
                 if act == "DELETE" and c is not None]
    if del_conds:
        op_col, del_tok = del_conds[0]
        if (False, "INSERT *") in shapes:
            # the full CDC shape: non-delete rows upsert
            return txnlog.apply_changes(spark, path, src, key=k,
                                        op_col=op_col,
                                        delete_op=del_tok)
        if any(act != "DELETE" for _m, _c, act in clauses):
            raise SqlSurfaceError(
                "MERGE with a conditional DELETE plus UPDATE arms "
                "needs the full CDC shape (add WHEN NOT MATCHED THEN "
                "INSERT *) — a partial arm set would silently write "
                "rows the statement never asked for")
        # conditional DELETE as the ONLY action: the statement asks
        # to touch nothing but the matched delete rows — feed ONLY
        # those keys (routing the whole source through apply_changes
        # would silently upsert every non-delete row)
        from pyspark.sql import functions as F
        feed = (src.filter(F.col(op_col) == del_tok)
                .select(k).withColumn("__op", F.lit("delete")))
        return txnlog.apply_changes(spark, path, feed, key=k,
                                    op_col="__op",
                                    delete_op="delete")
    if shapes == {(True, "DELETE")}:
        from pyspark.sql import functions as F
        feed = src.select(k).withColumn("__op", F.lit("delete"))
        return txnlog.apply_changes(spark, path, feed, key=k,
                                    op_col="__op",
                                    delete_op="delete")
    raise SqlSurfaceError(
        "unconditional MATCHED DELETE mixed with other arms is "
        "ambiguous; condition the DELETE on an op column "
        "(WHEN MATCHED AND s.op = 'delete' THEN DELETE)")


def _alter(spark: SparkSession, stmt: str,
           tables: dict[str, str] | None):
    m = re.fullmatch(r"ALTER\s+TABLE\s+(\S+)\s+(.+)", stmt,
                     re.IGNORECASE | re.DOTALL)
    if not m:
        raise SqlSurfaceError("ALTER shape: ALTER TABLE <t> <action>")
    path = _resolve_table(m.group(1), tables)
    act = m.group(2).strip()
    am = re.fullmatch(
        rf"RENAME\s+COLUMN\s+({_IDENT})\s+TO\s+({_IDENT})", act,
        re.IGNORECASE)
    if am:
        return txnlog.rename_column(spark, path,
                                    old=_unq(am.group(1)),
                                    new=_unq(am.group(2)))
    am = re.fullmatch(rf"DROP\s+COLUMN\s+({_IDENT})", act,
                      re.IGNORECASE)
    if am:
        return txnlog.drop_column(spark, path,
                                  column=_unq(am.group(1)))
    am = re.fullmatch(rf"ADD\s+COLUMN\s+({_IDENT})\s+([\w()\s,]+)",
                      act, re.IGNORECASE)
    if am:
        return txnlog.add_column(spark, path,
                                 column=_unq(am.group(1)),
                                 dtype=am.group(2).strip())
    am = re.fullmatch(
        rf"ALTER\s+COLUMN\s+({_IDENT})\s+TYPE\s+([\w()\s,]+)", act,
        re.IGNORECASE)
    if am:
        return txnlog.widen_column_type(spark, path,
                                        column=_unq(am.group(1)),
                                        to=am.group(2).strip())
    am = re.fullmatch(r"DROP\s+PARTITION\s*\((.+)\)", act,
                      re.IGNORECASE | re.DOTALL)
    if am:
        values = {}
        for part in _split_top(am.group(1), r","):
            pm = re.fullmatch(rf"\s*({_IDENT})\s*=\s*(.+?)\s*", part,
                              re.DOTALL)
            if not pm:
                raise SqlSurfaceError(
                    f"DROP PARTITION term {part.strip()!r} is not "
                    f"col = literal")
            values[_unq(pm.group(1))] = _parse_literal(pm.group(2))
        return txnlog.drop_partition(spark, path, values=values)
    raise SqlSurfaceError(
        f"ALTER action {act!r} unsupported (RENAME COLUMN / DROP "
        f"COLUMN / ADD COLUMN / ALTER COLUMN ... TYPE / DROP "
        f"PARTITION)")
