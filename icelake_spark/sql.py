"""SQL statements against icelake tables, parsed by Spark's own parser.

`execute` parses a statement once with Spark SQL's parser (`parsePlan`)
and dispatches on the unresolved plan's class to the delta, table,
maintenance and catalog APIs; any other query runs through `_select`.
Expression text (conditions, SET / VALUES expressions, time-travel
timestamps) is cut from the statement by the parser's source spans
(`origin().startIndex()..stopIndex()`), so the writers get the user's
own text; MERGE aliases become delta.merge's `t.` / `s.` qualifiers by
replacing only the spans of column references that name an alias.

Text handling left: regexes for the Iceberg-extension ALTER TABLE
clauses Spark 4.1 does not parse (SET PARTITION SPEC, CREATE/DROP
BRANCH|TAG, WRITE ... ORDERED BY | UNORDERED), tried only after Spark
fails on an ALTER TABLE; and one parse retry that rewrites this
module's `bucket[N](col)` spelling to `bucket(N, col)` and masks the
table-property keys Spark reserves (`owner`, `location`, ...).
"""

from __future__ import annotations

import itertools
import re

from pyspark.sql import DataFrame, SparkSession

from . import delta

# ------------------------------------------------------------ parsing


def _seq(s) -> list:
    """A Scala Seq from the JVM as a Python list."""
    return [s.apply(i) for i in range(s.size())]


def _opt(o):
    return o.get() if o.isDefined() else None


def _kind(node) -> str:
    return node.getClass().getSimpleName()


def _span(node) -> tuple[int, int] | None:
    """[start, stop) of the statement text `node` was parsed from."""
    o = node.origin()
    a, b = o.startIndex(), o.stopIndex()
    return (a.get(), b.get() + 1) if a.isDefined() and b.isDefined() \
        else None


def _src(text: str, node) -> str:
    a, b = _span(node)
    return text[a:b]


_NAME_GETTERS = dict.fromkeys(
    ("UnresolvedRelation", "UnresolvedTable", "UnresolvedTableOrView",
     "UnresolvedNamespace"), "multipartIdentifier") | dict.fromkeys(
    ("UnresolvedIdentifier", "UnresolvedProcedure", "UnresolvedAttribute"),
    "nameParts") | {"UnresolvedFieldName": "name"}


def _parts(node) -> list[str]:
    kind = _kind(node)
    if kind not in _NAME_GETTERS:
        raise ValueError(f"unsupported table reference ({kind})")
    return _seq(getattr(node, _NAME_GETTERS[kind])())


def _ident(node) -> str:
    return ".".join(_parts(node))


def _quote(name: str) -> str:
    return name if re.fullmatch(r"[A-Za-z_]\w*", name) \
        else "`" + name.replace("`", "``") + "`"


def _render(parts: list[str]) -> str:
    return ".".join(_quote(p) for p in parts)


_BRACKET_TRANSFORM_RE = re.compile(
    r"\b(bucket|truncate)\s*\[\s*(\d+)\s*\]\s*\(", re.IGNORECASE)
# Spark refuses these keys in TBLPROPERTIES; Iceberg stores them like any
# other property, so the retry masks them and _props unmasks them
_PROPS_RE = re.compile(
    r"\bTBLPROPERTIES\s*\((?:\s*'[^']*'\s*=\s*'[^']*'\s*,?)+\s*\)",
    re.IGNORECASE)
_RESERVED_KEY_RE = re.compile(
    r"'(owner|location|provider|external|is_managed_location)'(?=\s*=)")
_MASK = "\ue000"


def _parse(spark: SparkSession, statement: str):
    """(unresolved plan, the text its spans index); a failed parse is
    retried once with the rewrites above, then raised as ValueError."""
    from pyspark.errors import ParseException

    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        return parser.parsePlan(statement), statement
    except ParseException as e:
        alt = _PROPS_RE.sub(
            lambda m: _RESERVED_KEY_RE.sub(rf"'\1{_MASK}'", m.group(0)),
            _BRACKET_TRANSFORM_RE.sub(r"\1(\2, ", statement))
        if alt != statement:
            try:
                return parser.parsePlan(alt), alt
            except ParseException:
                pass
        raise _parse_error(statement, e) from None


# Spark error condition (or message fragment) → this module's wording
_PARSE_ERRORS = (
    ("NON_LAST_MATCHED_CLAUSE_OMIT_CONDITION", "only the last WHEN "
     "MATCHED clause may omit its AND condition (first-match-wins)"),
    ("NON_LAST_NOT_MATCHED_BY_SOURCE_CLAUSE_OMIT_CONDITION", "only the "
     "last WHEN NOT MATCHED BY SOURCE clause may omit its AND condition"),
    ("NON_LAST_NOT_MATCHED_BY_TARGET_CLAUSE_OMIT_CONDITION",
     "duplicate WHEN NOT MATCHED clause"),
    ("MERGE_WITHOUT_WHEN", "MERGE needs at least one WHEN clause"),
    ("number of inserted values",
     "INSERT column list and VALUES arity differ"),
    ("UNSUPPORTED_DATATYPE", "unsupported column type"),
    ("(CTAS)", "CREATE TABLE ... AS SELECT does not take a column list"),
)
# ... else by statement keyword
_PARSE_ERRORS_BY_HEAD = {
    "MERGE": "unsupported MERGE clause", "UPDATE": "unsupported UPDATE",
    "DELETE": "unsupported DELETE", "ALTER": "unsupported ALTER TABLE",
    "INSERT": "INSERT INTO needs VALUES or SELECT",
    "CALL": "unsupported CALL syntax; expected CALL system.<proc>(args)"}


def _head(statement: str) -> str:
    m = re.match(r"\s*(\w+)", statement)
    return m.group(1).upper() if m else ""


def _parse_error(statement: str, e) -> ValueError:
    """The one translation of a Spark ParseException into ValueError,
    worded as this module's own checks word the same mistake."""
    msg = next((ln.strip() for ln in str(e).splitlines() if ln.strip()), "")
    found = f"{e.getCondition() or ''} {msg}"
    if re.match(r"\s*CREATE\s+OR\s+REPLACE\s+TABLE\s+IF\s+NOT\s+EXISTS\b",
                statement, re.IGNORECASE):
        ours = "CREATE OR REPLACE TABLE cannot take IF NOT EXISTS"
    else:
        ours = next((w for needle, w in _PARSE_ERRORS if needle in found),
                    _PARSE_ERRORS_BY_HEAD.get(_head(statement),
                                              "cannot parse statement"))
    return ValueError(f"{ours}: {msg}")


def _attributes(node):
    """Column references (UnresolvedAttribute) of a parsed expression."""
    if _kind(node) == "UnresolvedAttribute":
        yield node
        return
    for c in _seq(node.children()):
        yield from _attributes(c)


def _rewrite(text: str, node, sub) -> str | None:
    """`node`'s source text with each column reference's span replaced
    by `sub(name_parts)` (None keeps it); None for no node."""
    if node is None:
        return None
    lo, hi = _span(node)
    out, pos = [], lo
    for (a, b), parts in sorted((_span(r), _parts(r))
                                for r in _attributes(node)):
        new = sub(parts)
        if new is not None:
            out += [text[pos:a], new]
            pos = b
    out.append(text[pos:hi])
    return "".join(out)


def _props(m) -> dict[str, str]:
    """A parsed property map, reserved keys unmasked."""
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1().replace(_MASK, "")] = kv._2()
    return out


def _spark_type(jdt):
    """A parsed DataType in pyspark (CHAR/VARCHAR as STRING, as fromDDL)."""
    from pyspark import SparkContext
    from pyspark.sql.types import _parse_datatype_json_string

    util = SparkContext._jvm.org.apache.spark.sql.catalyst.util
    return _parse_datatype_json_string(
        util.CharVarcharUtils.replaceCharVarcharWithString(jdt).json())


def _iceberg_type(jdt) -> str:
    """A parsed column type as an Iceberg primitive type string, through
    from_spark_type as CREATE TABLE's schema is."""
    from .types.datatypes import PrimitiveType, from_spark_type

    try:
        t = from_spark_type(_spark_type(jdt), lambda: 0)
    except ValueError:
        t = None
    if not isinstance(t, PrimitiveType):
        raise ValueError(f"unsupported column type {jdt.simpleString()!r}")
    return str(t)


def _missing(e: Exception, exc=FileNotFoundError, status=404) -> bool:
    """Does-not-exist (or, with FileExistsError / 409, already-exists) in
    the storage catalog's or the REST catalog's spelling."""
    return isinstance(e, exc) or getattr(
        getattr(e, "response", None), "status_code", None) == status


def _load_if_exists(ident: str, catalog):
    try:
        return _load_target(ident, catalog)
    except Exception as e:
        if _missing(e):
            return None
        raise


# ------------------------------------------------------------- MERGE


def _strip(parts: list[str], alias: tuple[str, ...]):
    """`parts` without a leading qualifier naming `alias` (any suffix of
    it, case-insensitively, as Spark matches qualifiers), else None."""
    low, al = [p.lower() for p in parts], [a.lower() for a in alias]
    for k in range(len(al), 0, -1):
        if len(low) > k and low[:k] == al[-k:]:
            return parts[k:]
    return None


def _qualifier(*aliases):
    """A _rewrite `sub` requalifying references led by alias a with q for
    each (a, q) ("" drops it); one pass, so crossed aliases swap."""
    def sub(parts):
        for alias, q in aliases:
            rest = _strip(parts, alias)
            if rest is not None:
                return q + _render(rest)
        return None
    return sub


def _on_keys(text: str, cond, talias, salias) -> list[str]:
    """ON keys: a conjunction of t.col = s.col on the SAME column name."""
    kind = _kind(cond)
    if kind == "And":
        return (_on_keys(text, cond.left(), talias, salias)
                + _on_keys(text, cond.right(), talias, salias))
    term = _src(text, cond)
    cols = []
    for side in _seq(cond.children()) if kind == "EqualTo" else []:
        parts = _parts(side) if _kind(side) == "UnresolvedAttribute" else []
        if len(parts) > 1:
            rest = _strip(parts, talias)
            parts = rest if rest is not None else _strip(parts, salias)
            if parts is None:
                raise ValueError(f"unknown qualifier in ON term {term!r}")
        if len(parts) == 1:
            cols.append(parts[0])
    if len(cols) != 2:
        raise ValueError(f"unsupported ON term (need t.col = s.col): {term!r}")
    if cols[0] != cols[1]:
        raise ValueError(f"ON must join the same column name on both sides "
                         f"(equality-delete key), got {term!r}")
    return cols[:1]


def _assignments(assigns, talias=()) -> dict:
    """SET / INSERT assignments → {column: value node}."""
    out = {}
    for a in _seq(assigns):
        parts = _parts(a.key())
        col = _strip(parts, talias) if len(parts) > 1 else parts
        if col is None or len(col) != 1:
            raise ValueError(
                f"unsupported SET assignment: {'.'.join(parts)!r}")
        if col[0] in out:
            raise ValueError(f"duplicate SET column {col[0]!r}")
        out[col[0]] = a.value()
    return out


def _source_only_refs(names, talias, salias, tcols, scols) -> list[str]:
    """References (name parts) only the MERGE source resolves: led by the
    source alias (unless it names a target column — a struct deref) or
    by a source-only column; case-insensitive, as Spark resolves."""
    tl, sl = talias[-1].lower(), salias[-1].lower()
    tlow = {c.lower() for c in tcols}
    slow = {c.lower() for c in scols}
    return [".".join(p) for p in names
            if p[0].lower() != tl
            and ((p[0].lower() == sl and sl not in tlow)
                 or (p[0].lower() in slow and p[0].lower() not in tlow))]


def _aliased(node):
    """(relation, alias name parts) of one MERGE side."""
    if _kind(node) == "SubqueryAlias":
        return node.child(), (node.alias(),)
    return node, tuple(_parts(node))


def merge_into(spark: SparkSession, statement: str,
               catalog=None, source_df: DataFrame | None = None):
    """Execute a MERGE INTO statement (see _merge); returns the target
    table. The target resolves through `catalog` (else as a table path);
    the USING name is a Spark view unless `source_df` replaces it."""
    plan, text = _parse(spark, statement)
    if _kind(plan) != "MergeIntoTable":
        raise ValueError("unsupported MERGE syntax; expected "
                         "MERGE INTO t USING s ON ... WHEN ...")
    return _merge(spark, text, plan, catalog, source_df)


def _merge(spark, text, plan, catalog=None, source_df=None):
    """MERGE INTO t USING view ON t.k = s.k [AND ...], with WHEN MATCHED
    [AND c] THEN UPDATE SET * | SET col = e, ... | DELETE, WHEN NOT
    MATCHED THEN INSERT * | INSERT (cols) VALUES (...) and WHEN NOT
    MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE clauses,
    first-match-wins. `*` forms are whole-row (conditions read the source
    row); column-level forms keep unset columns and read both sides."""
    target, talias = _aliased(plan.targetTable())
    source, salias = _aliased(plan.sourceTable())
    if _kind(source) != "UnresolvedRelation":
        raise ValueError("unsupported MERGE source: USING takes a table "
                         "or view name")
    keys = _on_keys(text, plan.mergeCondition(), talias, salias)

    def clause(a):  # (action, condition node, {col: node} | None)
        kind, cond = _kind(a), _opt(a.condition())
        if kind == "DeleteAction":
            return "delete", cond, None
        if kind == "UpdateStarAction":
            return "update", cond, None
        return "update", cond, _assignments(a.assignments(), talias)

    matched = [clause(a) for a in _seq(plan.matchedActions())]
    by_source = [clause(a) for a in _seq(plan.notMatchedBySourceActions())]
    when_not_matched = insert = None
    for a in _seq(plan.notMatchedActions()):
        if a.condition().isDefined():
            raise ValueError("unsupported MERGE clause: WHEN NOT MATCHED "
                             "takes no AND condition")
        when_not_matched = "insert"
        if _kind(a) == "InsertAction":
            insert = _assignments(a.assignments(), talias)

    req = _qualifier((talias, "t."), (salias, "s."))
    if insert is not None or by_source or any(s for _, _, s in matched):
        # column-level: conditions and exprs run on the full t⋈s join
        matched = [(a, _rewrite(text, c, req),
                    {k: _rewrite(text, v, req) for k, v in s.items()}
                    if s else None) for a, c, s in matched]
    else:
        # whole-row: conditions read the SOURCE row only (delta.merge
        # contract) — target refs are refused, the source alias dropped
        for _a, c, _s in matched:
            if c is not None and any(_strip(_parts(r), talias) is not None
                                     for r in _attributes(c)):
                raise ValueError("WHEN MATCHED AND may only reference "
                                 "source columns")
        matched = [(a, _rewrite(text, c, _qualifier((salias, ""))), None)
                   for a, c, _s in matched]
    insert_cols = None if insert is None else (
        list(insert), [_rewrite(text, v, req) for v in insert.values()])

    table, branch = _load_write_target(_ident(target), catalog)
    src = source_df if source_df is not None \
        else spark.table(_render(_parts(source)))
    if by_source:
        # BY SOURCE rows have no source side: validate against the actual
        # column sets; a source alias naming a target column is a struct
        tcols = {f.name for f in table.schema().fields}
        collide = salias[-1].lower() in {c.lower() for c in tcols}
        req = _qualifier((talias, "t."), (() if collide else salias, "s."))
        out = []
        for act, cond, sets in by_source:
            nodes = [n for n in [cond, *(sets or {}).values()]
                     if n is not None]
            bad = _source_only_refs(
                [_parts(r) for n in nodes for r in _attributes(n)],
                talias, salias, tcols, set(src.columns))
            if bad:
                raise ValueError(
                    "WHEN NOT MATCHED BY SOURCE may only reference "
                    f"target columns; source-only refs: {bad}")
            out.append((act, _rewrite(text, cond, req),
                        {k: _rewrite(text, v, req) for k, v in sets.items()}
                        if sets else None))
        by_source = out

    delta.merge(table, spark, src, on=keys, matched_clauses=matched,
                when_not_matched=when_not_matched, insert_cols=insert_cols,
                by_source_clauses=by_source, branch=branch)
    return table


# ------------------------------------------------------- dispatcher


def _load_target(ident: str, catalog):
    from .table import IcebergTable

    return catalog.load_table(ident) if catalog is not None \
        else IcebergTable.load(ident)


def execute(spark: SparkSession, statement: str, catalog=None,
            source_df: DataFrame | None = None):
    """Run one SQL statement against icelake tables — the surface the
    reference drives through Spark SQL (delta_test_v2.rs:101-226): MERGE
    INTO, UPDATE, DELETE FROM (no WHERE truncates), INSERT INTO |
    OVERWRITE, CREATE [OR REPLACE] TABLE [AS SELECT], ALTER TABLE, CALL
    system.<proc>, CREATE | DROP NAMESPACE, DROP TABLE, SHOW TABLES |
    TBLPROPERTIES, DESCRIBE, ANALYZE TABLE, and any query (_select).

    Names follow Spark's identifier rules: they resolve through
    `catalog`, or with catalog=None as table paths — and a path must be
    backtick-quoted (`` DELETE FROM `/data/t` ``). Returns the target
    table for DML/DDL, the procedure's result for CALL, and a DataFrame
    for queries and metadata statements."""
    try:
        plan, text = _parse(spark, statement)
    except ValueError:
        out = _alter_extension(spark, statement, catalog)
        if out is None:
            raise
        return out
    kind = _kind(plan)
    if kind == "MergeIntoTable":
        return _merge(spark, text, plan, catalog, source_df)
    if kind in _STATEMENTS:
        return _STATEMENTS[kind](spark, text, plan, catalog)
    from py4j.java_gateway import is_instance_of

    if not is_instance_of(spark.sparkContext._gateway, plan,
                          "org.apache.spark.sql.catalyst.plans.logical."
                          "Command"):
        return _select(spark, text, plan, catalog)
    if _head(text) == "ALTER":
        raise ValueError(f"unsupported ALTER TABLE clause ({kind})")
    raise ValueError(f"unsupported statement {kind} (SELECT | MERGE INTO | "
                     "UPDATE | DELETE FROM | INSERT INTO | CREATE TABLE | "
                     "ALTER TABLE | CALL system.<proc> | CREATE/DROP "
                     "NAMESPACE | DROP TABLE | SHOW | DESCRIBE | ANALYZE)")


def _delete(spark, text, plan, catalog):
    table, branch = _load_write_target(_ident(plan.table()), catalog)
    cond = plan.condition()
    if _kind(cond) == "Literal" and cond.value() is True and (
            _span(cond) is None or _src(text, cond).lower() != "true"):
        # no WHERE (Spark's implicit `true`, whose span is not its own):
        # one commit removing everything (a branch target: its content)
        from .transaction import Transaction

        Transaction(table, branch=branch).remove_all_existing() \
            .commit("delete")
        return table
    table.delete_where(spark, _src(text, cond), branch=branch)
    return table


def _update(spark, text, plan, catalog):
    assignments = {k: _src(text, v)
                   for k, v in _assignments(plan.assignments()).items()}
    cond = _opt(plan.condition())
    table, branch = _load_write_target(_ident(plan.table()), catalog)
    delta.update_rows(table, spark, "true" if cond is None
                      else _src(text, cond), assignments, branch=branch)
    return table


def _insert_into(spark, text, plan, catalog):
    """INSERT INTO | OVERWRITE t [(cols)] <query>: the query's rows (via
    _select) align to the schema — by position, or by the column list
    with NULLs — cast to the column types, and land in one commit."""
    from pyspark.sql import functions as F

    if plan.partitionSpec().nonEmpty():
        raise ValueError("unsupported INSERT clause: PARTITION")
    cols = _seq(plan.userSpecifiedCols())
    # the query is all text after the `INSERT ... t [(cols)]` header
    df = _select(spark, text, plan.query(), catalog, _span(plan)[1])
    table, branch = _load_write_target(_ident(plan.table()), catalog)
    fields = table.schema().to_spark().fields
    cols = cols or [f.name for f in fields]
    bad = set(cols) - {f.name for f in fields}
    if bad:
        raise ValueError(f"unknown INSERT columns: {sorted(bad)}")
    if len(set(cols)) != len(cols):
        raise ValueError("duplicate INSERT column")
    if len(df.columns) != len(cols):
        raise ValueError(f"INSERT arity {len(df.columns)} != {len(cols)} "
                         f"target columns")
    by_name = dict(zip(cols, df.columns))
    out = df.select(*[(F.col(by_name[f.name]) if f.name in by_name
                       else F.lit(None)).cast(f.dataType).alias(f.name)
                      for f in fields])
    if not plan.overwrite():
        table.append(out, branch=branch)
        return table
    from .transaction import Transaction
    from .write import write_data_files

    tx = Transaction(table, branch=branch).remove_all_existing()
    tx.add_data_files(write_data_files(table, out))
    tx.commit("overwrite")
    return table


def _load_write_target(ident: str, catalog):
    """(table, branch) for a DML target: Iceberg's `t.branch_<name>`
    stages the commit on that branch (write-audit-publish), unless a real
    table has that name; `t.tag_<name>` is refused (tags are immutable)."""
    try:
        return _load_target(ident, catalog), None
    except Exception as e:
        base, _, last = ident.rpartition(".")
        bm = _REF_SUFFIX_RE.fullmatch(last) if base else None
        if not (_missing(e) and bm):
            raise
        if bm.group("kind").lower() == "tag":
            raise ValueError("cannot write to a tag (tags are immutable; "
                             "use a branch)")
        return _load_target(base, catalog), bm.group("name")


def _analyze(spark, text, plan, catalog):
    """ANALYZE TABLE t COMPUTE STATISTICS [FOR COLUMNS a, b | FOR ALL
    COLUMNS] — Spark's spelling, lowered onto compute_table_stats."""
    from . import maintenance

    column = _kind(plan) == "AnalyzeColumn"
    if not column and (plan.noScan() or plan.partitionSpec().nonEmpty()):
        raise ValueError("expected ANALYZE TABLE <t> COMPUTE STATISTICS "
                         "[FOR COLUMNS a, b | FOR ALL COLUMNS]")
    cols = _opt(plan.columnNames()) if column else None
    return maintenance.compute_table_stats(
        _load_target(_ident(plan.child()), catalog), spark,
        columns=None if cols is None else _seq(cols))


def _create_namespace(spark, text, plan, catalog):
    if catalog is None:
        raise ValueError("CREATE NAMESPACE requires a catalog")
    if plan.properties().nonEmpty():
        raise ValueError("unsupported CREATE NAMESPACE clause")
    try:
        catalog.create_namespace(_ident(plan.name()))
    except Exception as e:
        if not (_missing(e, FileExistsError, 409) and plan.ifNotExists()):
            raise


def _drop(spark, text, plan, catalog):
    """DROP TABLE | NAMESPACE [IF EXISTS] name over the catalog API."""
    if catalog is None:
        raise ValueError("DROP requires a catalog")
    if _kind(plan) == "DropTable":
        drop, name = catalog.drop_table, _ident(plan.child())
    elif plan.cascade():
        raise ValueError("unsupported DROP NAMESPACE clause: CASCADE")
    else:
        drop, name = catalog.drop_namespace, _ident(plan.namespace())
    try:
        drop(name)
    except Exception as e:
        if not (_missing(e) and plan.ifExists()):
            raise


def _show_tables(spark, text, plan, catalog):
    """SHOW TABLES [IN ns] → (namespace, tableName)."""
    if catalog is None:
        raise ValueError("SHOW TABLES requires a catalog")
    if plan.pattern().isDefined():
        raise ValueError("unsupported SHOW TABLES clause: LIKE")
    if _kind(plan.namespace()) == "UnresolvedNamespace":
        idents = catalog.list_tables(_ident(plan.namespace()))
    else:
        try:
            idents = catalog.list_tables()
        except TypeError:  # REST catalogs require a namespace
            idents = [t for ns in catalog.list_namespaces()
                      for t in catalog.list_tables(ns)]
    return spark.createDataFrame(
        [(i.rpartition(".")[0], i.rpartition(".")[2]) for i in idents],
        "namespace string, tableName string")


def _show_properties(spark, text, plan, catalog):
    """SHOW TBLPROPERTIES t [(key)] → (key, value)."""
    props = _load_target(_ident(plan.table()), catalog).metadata.properties
    key = _opt(plan.propertyKey())
    return spark.createDataFrame(
        sorted((k, v) for k, v in props.items() if key in (None, k)),
        "key string, value string")


def _describe(spark, text, plan, catalog):
    """DESCRIBE [TABLE] [EXTENDED] t → (col_name, data_type, comment)
    rows, the partition spec, and (EXTENDED) table information."""
    table = _load_target(_ident(plan.relation()), catalog)
    rows = [(f.name, f.dataType.simpleString(), "")
            for f in table.schema().to_spark().fields]
    spec = table.metadata.default_spec()
    if spec.fields:
        rows += [("# Partition Information", "", "")] + [
            (pf.name, pf.transform, "") for pf in spec.fields]
    if plan.isExtended():
        snap = table.current_snapshot()
        rows += [("# Detailed Table Information", "", ""),
                 ("Location", table.path, ""),
                 ("Format-version", str(table.metadata.format_version), ""),
                 ("Current-snapshot-id",
                  str(snap.snapshot_id) if snap else "none", "")]
    return spark.createDataFrame(
        rows, "col_name string, data_type string, comment string")


# ------------------------------------------------------------- CALL

# procedure → its parameters in positional order (all take `table` first)
_PROCEDURES = dict.fromkeys(
    ("rollback_to_snapshot", "set_current_snapshot", "cherrypick_snapshot",
     "ancestors_of"), ("snapshot_id",)) | dict.fromkeys(
    ("rewrite_manifests", "rewrite_position_delete_files"), ()) | {
    "rewrite_data_files": ("target_file_size_bytes",),
    "expire_snapshots": ("older_than_ms", "retain_last"),
    "remove_orphan_files": ("older_than_ms",),
    "analyze_table": ("columns", "exact"), "fast_forward": ("branch", "to"),
    "add_files": ("source_table", "format", "source")}


def _call(spark, text, plan, catalog):
    """CALL [cat.]system.<procedure>(...) with positional or `name =>`
    string / integer / boolean arguments (see _PROCEDURES), as the
    reference's harness drives maintenance (insert_compact_test.rs:
    198-211). Returns the procedure's result, or the table."""
    name = [p.lower() for p in _parts(plan.procedure())]
    if len(name) not in (2, 3) or name[-2] != "system":
        raise ValueError("unsupported CALL syntax; expected "
                         "CALL system.<procedure>(args)")
    proc = name[-1]
    if proc not in _PROCEDURES:
        raise ValueError(f"unknown procedure system.{proc}")
    params = ("table",) + _PROCEDURES[proc]
    pos, args = [], {}
    for a in _seq(plan.args()):
        key, v = ((a.key().lower(), a.value())
                  if _kind(a) == "NamedArgumentExpression" else (None, a))
        if _kind(v) != "Literal" or v.dataType().simpleString() not in (
                "string", "int", "bigint", "boolean"):
            raise ValueError(f"unsupported CALL argument {_src(text, v)!r}")
        val = v.value()  # a bool / int, or a JVM UTF8String
        val = val if isinstance(val, int) else val.toString()
        if key is not None:
            args[key] = val
        elif args:
            raise ValueError("positional CALL argument after named")
        else:
            pos.append(val)
    extra = pos[len(params):] + sorted(set(args) - set(params))
    if extra or set(args) & set(params[:len(pos)]):
        raise ValueError(f"unsupported arguments for system.{proc}: {extra}")
    args.update(zip(params, pos))
    if not isinstance(args.get("table"), str):
        raise ValueError("CALL needs the table as first argument "
                         "or table => '...'")
    table = _load_target(args.pop("table"), catalog)

    def need(key):
        if key not in args:
            raise ValueError(f"{proc} needs {key}")
        return args[key]

    from . import maintenance as m

    if proc == "rewrite_data_files":
        size = args.get("target_file_size_bytes")
        return m.rewrite_data_files(table, spark, **(
            {} if size is None else {"target_file_size": int(size)}))
    if proc in ("expire_snapshots", "remove_orphan_files"):
        return getattr(m, proc)(table, **{k: int(v)
                                          for k, v in args.items()})
    if proc == "rewrite_manifests":
        return m.rewrite_manifests(table)
    if proc == "rewrite_position_delete_files":
        return m.rewrite_position_deletes(table, spark)
    if proc == "analyze_table":
        kw = {}
        if "columns" in args:
            kw["columns"] = [c.strip() for c in str(args["columns"])
                             .split(",") if c.strip()]
        if "exact" in args:
            kw["exact"] = str(args["exact"]).lower() in ("true", "1")
        return m.compute_table_stats(table, spark, **kw)
    if proc == "ancestors_of":
        # the lineage of a snapshot (default: current), current first
        cur = (table.snapshot(int(args["snapshot_id"]))
               if "snapshot_id" in args
               else table.metadata.current_snapshot())
        by_id = {s.snapshot_id: s for s in table.metadata.snapshots}
        rows = []
        while cur is not None:
            rows.append((cur.snapshot_id, cur.timestamp_ms))
            cur = by_id.get(cur.parent_snapshot_id)
        return spark.createDataFrame(rows,
                                     "snapshot_id long, timestamp_ms long")
    if proc == "fast_forward":
        table.fast_forward(need("branch"), need("to"))
    elif proc == "add_files":
        src = args.get("source_table") or args.get("source")
        if src is None:
            raise ValueError("add_files needs source => '<path|glob>'")
        _add_files(table, str(src), args.get("format") or "PARQUET")
    else:
        # rollback is ancestry-validated (Iceberg parity); set_current is
        # the unrestricted ref move; cherrypick publishes ONE staged
        # (write-audit-publish) append onto main
        {"rollback_to_snapshot": m.rollback_to,
         "set_current_snapshot": m.set_current_snapshot,
         "cherrypick_snapshot": m.cherrypick_snapshot}[proc](
            table, int(need("snapshot_id")))
    return table


def _add_files(table, src: str, fmt: str) -> None:
    """system.add_files: register a directory's, a file's or a glob's
    files (or Iceberg's '`parquet`.`/path`' spelling) as they are."""
    from fnmatch import fnmatch

    from .fileio import dirname, norm_path, resolve_io

    m = re.match(r"^`(\w+)`\s*\.\s*`(.+)`$", src)
    if m:
        fmt, src = m.group(1), m.group(2)
    src = norm_path(src)
    fio = resolve_io(src)
    if any(c in src for c in "*?["):
        # list_files is RECURSIVE and fnmatch's '*' crosses '/': the
        # slash-count gate keeps a wildcard from descending into nested
        # subtrees (an aborted write's _temporary/, another dataset)
        paths = [p for p, _ in fio.list_files(dirname(src))
                 if p.count("/") == src.count("/") and fnmatch(p, src)]
    else:
        try:
            listed = fio.list_files(src)
        except (FileNotFoundError, NotADirectoryError):
            listed = []
        ext = "." + fmt.lower()
        paths = ([p for p, _ in listed if p.endswith(ext)]
                 or ([src] if src.endswith(ext) else []))
    if not paths:
        raise FileNotFoundError(f"add_files: no {fmt} files at {src}")
    # deterministic commit order regardless of listing backend
    table.add_files(sorted(paths), file_format=fmt.upper())


# ------------------------------------------------------- CREATE TABLE

_TRANSFORM_NAMES = {"years": "year", "months": "month", "days": "day",
                    "hours": "hour"}


def _spec_part(t) -> str:
    """A parsed PARTITIONED BY transform in update_spec's spelling:
    `col`, `month(col)`, `bucket[N](col)`, `truncate[W](col)`, ..."""
    args = list(t.arguments())
    refs = [".".join(a.fieldNames()) for a in args
            if _kind(a) == "FieldReference"]
    nums = [a.value() for a in args if _kind(a) == "LiteralValue"]
    if len(refs) != 1 or len(nums) > 1:
        raise ValueError(f"unsupported partition transform {t.describe()!r}")
    name = _TRANSFORM_NAMES.get(t.name(), t.name())
    if name == "identity":
        return refs[0]
    return f"{name}[{nums[0]}]({refs[0]})" if nums else f"{name}({refs[0]})"


def _create_table(spark, text, plan, catalog):
    """CREATE [OR REPLACE] TABLE [IF NOT EXISTS] t [(col type, ...)]
    [USING iceberg] [PARTITIONED BY (...)] [TBLPROPERTIES (...)] [AS
    <query>] — the reference harness's first statement (init-table.sql).
    A CTAS query runs through _select; OR REPLACE on an existing table
    is one atomic replace (_replace_table)."""
    from pyspark.sql.types import StructField, StructType

    from .types import Schema

    if catalog is None:
        raise ValueError("CREATE TABLE requires a catalog")
    kind, spec = _kind(plan), plan.tableSpec()
    fmt = _opt(spec.provider())
    if fmt is not None and fmt.lower() != "iceberg":
        raise ValueError(f"unsupported USING format {fmt!r}")
    if spec.location().isDefined() or spec.comment().isDefined() \
            or spec.optionExpression().options().nonEmpty():
        raise ValueError("unsupported CREATE TABLE clause "
                         "(LOCATION, COMMENT or OPTIONS)")
    ident = _ident(plan.name())
    props = _props(spec.properties()) or None
    spec_parts = [_spec_part(t) for t in _seq(plan.partitioning())] or None
    df = None
    if kind.endswith("AsSelect"):
        df = _select(spark, text, plan.query(), catalog,
                     _query_start(spark, text, plan.query()))
        st = df.schema
    else:
        cols = _seq(plan.columns())
        if not cols:
            raise ValueError(
                "CREATE TABLE needs a (col type, ...) list or AS SELECT")
        st = StructType([StructField(c.name(), _spark_type(c.dataType()),
                                     c.nullable()) for c in cols])
    replace = kind.startswith("Replace")
    if replace:
        existing = _load_if_exists(ident, catalog)
        if existing is not None:
            return _replace_table(existing, st, spec_parts, props, df)
        if not plan.orCreate():
            raise ValueError(f"REPLACE TABLE: no table {ident!r}")
    try:
        table = catalog.create_table(ident, Schema.from_spark(st),
                                     properties=props)
    except Exception as e:
        if _missing(e, FileExistsError, 409) and not replace \
                and plan.ignoreIfExists():
            return catalog.load_table(ident)
        raise
    if spec_parts:
        table.update_spec(*spec_parts)
    if df is not None:
        table.append(df)
    return table


def _query_start(spark, text: str, query) -> int:
    """Where a CTAS query starts in `text` — just past the last AS before
    the query's first span (Spark gives the query no span of its own,
    and an aggregate's spans leave out its SELECT keyword)."""
    first = min(sp[0] for node, *_ in _plans(spark, query)
                for sp in map(_span, [node, *_seq(node.expressions())]) if sp)
    found = [m.end() for m in re.finditer(r"\bAS\b", text[:first], re.I)]
    if not found:
        raise ValueError("CREATE TABLE ... AS <query> needs the AS keyword")
    return found[-1]


def _replace_table(table, st, spec_parts, props, df):
    """REPLACE TABLE [AS SELECT] as one commit: the new schema (field ids
    past last-column-id, never colliding with old files'), the declared
    spec (none when absent), no old content, the new data. History, refs
    and time travel to old snapshots survive, unlike DROP + CREATE."""
    import copy
    from dataclasses import replace as dc_replace

    from .transaction import Transaction
    from .types import Schema
    from .types.metadata import PartitionSpec, build_partition_fields
    from .write import write_data_files

    meta = table.metadata
    new_schema = Schema.from_spark(st, start_id=meta.last_column_id + 1)
    tx = (Transaction(table).set_schema(new_schema)
          .set_default_spec(*(spec_parts or [])).remove_all_existing())
    if props:
        tx.set_properties(props)
    if df is not None:
        # write under the REPLACEMENT schema and spec through a staged
        # copy of the table (only their ids differ from the commit's)
        sid = max(s.schema_id for s in meta.schemas) + 1
        staged_schema = dc_replace(new_schema, schema_id=sid)
        fields, next_fid = build_partition_fields(
            staged_schema, spec_parts or [], meta.last_partition_id)
        staged_spec = PartitionSpec(
            spec_id=max(s.spec_id for s in meta.partition_specs) + 1,
            fields=fields)
        staged = copy.copy(table)
        staged.metadata = dc_replace(
            meta, schemas=meta.schemas + (staged_schema,),
            current_schema_id=sid,
            partition_specs=meta.partition_specs + (staged_spec,),
            default_spec_id=staged_spec.spec_id,
            last_partition_id=next_fid,
            # the statement's OWN write honors the properties it declares
            properties={**meta.properties, **(props or {})})
        tx.add_data_files(write_data_files(staged, df))
    tx.commit("replace")
    return table


# -------------------------------------------------------- ALTER TABLE


def _column(field) -> str:
    (name, *nested) = _parts(field)
    if nested:
        raise ValueError(f"unsupported nested column {_ident(field)!r}")
    return name


def _alter_table(spark, text, plan, catalog):
    """ALTER TABLE t ADD COLUMN[S] | ALTER COLUMN c TYPE | RENAME COLUMN
    | DROP COLUMN[S] | SET TBLPROPERTIES over the id-based evolution
    API; types take CREATE TABLE's path (_iceberg_type)."""
    kind = _kind(plan)
    table = _load_target(_ident(plan.table()), catalog)
    if kind == "AddColumns":
        for c in _seq(plan.columnsToAdd()):
            if c.path().isDefined() or c.position().isDefined() \
                    or c.default().isDefined():
                raise ValueError("unsupported ADD COLUMN clause "
                                 "(nested path, FIRST/AFTER or DEFAULT)")
            table.add_column(c.colName(), _iceberg_type(c.dataType()),
                             doc=_opt(c.comment()))
    elif kind == "AlterColumns":
        for s in _seq(plan.specs()):
            new_type = _opt(s.newDataType())
            if new_type is None:
                raise ValueError("unsupported ALTER COLUMN clause "
                                 "(only TYPE is supported)")
            table.update_column_type(_column(s.column()),
                                     _iceberg_type(new_type))
    elif kind == "RenameColumn":
        table.rename_column(_column(plan.column()), plan.newName())
    elif kind == "DropColumns":
        for c in _seq(plan.columnsToDrop()):
            table.drop_column(_column(c))
    else:
        table.set_properties(_props(plan.properties()))
    return table


_ALTER_RE = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<target>[\w.$/-]+)\s+(?P<rest>.+?)\s*$",
    re.IGNORECASE | re.DOTALL)
_SET_SPEC_RE = re.compile(
    r"^SET\s+PARTITION\s+SPEC\s*\(\s*(?P<parts>.+?)\s*\)$",
    re.IGNORECASE | re.DOTALL)
_BRANCH_RE = re.compile(
    r"^CREATE\s+(?P<kind>BRANCH|TAG)\s+(?P<name>\w+)"
    r"(?:\s+AS\s+OF\s+VERSION\s+(?P<sid>\d+))?$", re.IGNORECASE)
_DROP_REF_RE = re.compile(
    r"^DROP\s+(?:BRANCH|TAG)\s+(?P<name>\w+)$", re.IGNORECASE)
_WRITE_UNORDERED_RE = re.compile(r"^WRITE\s+UNORDERED$", re.IGNORECASE)
_WRITE_ORDER_RE = re.compile(
    r"^WRITE\s+(?:(?P<dist>DISTRIBUTED\s+BY\s+PARTITION)\s*)?"
    r"(?:(?P<loc>LOCALLY\s+)?ORDERED\s+BY\s+(?P<fields>.+?))?$",
    re.IGNORECASE | re.DOTALL)
_SORT_FIELD_RE = re.compile(
    r"^(?:(?P<fn>\w+)\s*\(\s*(?P<arg>\w+)\s*\)|(?P<col>\w+))"
    r"(?:\s+(?P<dir>ASC|DESC))?"
    r"(?:\s+NULLS\s+(?P<nulls>FIRST|LAST))?$", re.IGNORECASE)


def _alter_extension(spark, statement: str, catalog):
    """ALTER TABLE t SET PARTITION SPEC (...) | CREATE BRANCH|TAG b [AS OF
    VERSION n] | DROP BRANCH|TAG b | WRITE [DISTRIBUTED BY PARTITION]
    [[LOCALLY] ORDERED BY a [DESC] [NULLS LAST], ...] | WRITE UNORDERED:
    the Iceberg clauses Spark's grammar lacks (None for anything else)."""
    m = _ALTER_RE.match(statement)
    rest = m.group("rest") if m else ""
    sm, bm, dm, um, wm = (r.match(rest) for r in (
        _SET_SPEC_RE, _BRANCH_RE, _DROP_REF_RE, _WRITE_UNORDERED_RE,
        _WRITE_ORDER_RE))
    if wm and not (wm.group("dist") or wm.group("fields")):
        wm = None
    if not (sm or bm or dm or um or wm):
        return None
    table = _load_target(m.group("target"), catalog)
    if sm:
        # partition evolution: REPLACES the default spec (old files keep
        # theirs). The part list is a PARTITIONED BY list: Spark parses it
        spec, _ = _parse(spark, "CREATE TABLE t PARTITIONED BY ("
                         + sm.group("parts") + ")")
        table.update_spec(*map(_spec_part, _seq(spec.partitioning())))
    elif bm:
        make = table.create_branch if bm.group("kind").lower() == "branch" \
            else table.create_tag
        make(bm.group("name"),
             snapshot_id=int(bm.group("sid")) if bm.group("sid") else None)
    elif dm:
        table.drop_ref(dm.group("name"))
    elif um:
        # empty order + no forced clustering (Iceberg's WRITE UNORDERED)
        table.replace_sort_order(None)
        table.set_properties({"write.distribution-mode": "none"})
    else:
        if wm.group("fields"):
            sfs = []
            for part in wm.group("fields").split(","):
                fm = _SORT_FIELD_RE.match(part.strip())
                if not fm:
                    raise ValueError(f"unsupported sort field {part!r}")
                direction = (fm.group("dir") or "ASC").lower()
                # Iceberg defaults: ASC → NULLS FIRST, DESC → NULLS LAST
                nulls = (fm.group("nulls") or
                         ("first" if direction == "asc" else "last"))
                sfs.append((fm.group("col") or fm.group("arg"), direction,
                            f"nulls-{nulls.lower()}",
                            (fm.group("fn") or "identity").lower()))
            table.replace_sort_order(sfs)
        # DISTRIBUTED BY PARTITION → hash; a GLOBAL ORDERED BY → range
        # (the sort IS the layout); LOCALLY ORDERED BY alone → none
        table.set_properties({"write.distribution-mode": (
            "hash" if wm.group("dist") else
            "none" if wm.group("loc") else "range")})
    return table


# ------------------------------------------------------------ SELECT

# metadata-table suffix → IcebergTable inspection method (the reference
# harness reads `t1.partitions`, `t.files`, ... through Spark SQL)
_META_SUFFIXES = {s: f"{s}_df" for s in (
    "files", "partitions", "snapshots", "manifests", "history", "refs",
    "entries", "data_files", "delete_files", "position_deletes",
    "all_files", "all_manifests")} | {"metadata_log_entries": "metadata_log_df"}

# table-level tables span all snapshots (or the metadata lineage), so
# time travel on them is a contradiction: raise, never ignore
_TABLE_LEVEL_SUFFIXES = frozenset(
    ("snapshots", "history", "refs", "all_files", "all_manifests",
     "metadata_log_entries"))

# Iceberg's branch/tag selectors `t.branch_<name>` / `t.tag_<name>`
_REF_SUFFIX_RE = re.compile(r"(?P<kind>branch|tag)_(?P<name>\w+)",
                            re.IGNORECASE)

# temp-view name token: a fixed name could clobber a user's view
_VIEW_SEQ = itertools.count()


def _resolve_select_ref(parts: list[str], catalog, spark):
    """(table, meta_suffix, ref) for an icelake relation, else Nones. A
    Spark view or table of the same name wins, as in Spark; only
    does-not-exist means "not ours" (other load failures propagate)."""
    try:
        if spark.catalog.tableExists(_render(parts)):
            return None, None, None
    except Exception:
        pass  # not a Spark identifier — not a view
    base, last = ".".join(parts[:-1]), parts[-1]
    t = _load_if_exists(".".join(parts), catalog)
    if t is not None:
        return t, None, None
    if base and last.lower() in _META_SUFFIXES:
        t = _load_if_exists(base, catalog)
        if t is not None:
            return t, last.lower(), None
    rm = _REF_SUFFIX_RE.fullmatch(last) if base else None
    t = _load_if_exists(base, catalog) if rm else None
    if t is None:
        return None, None, None
    kind, name = rm.group("kind").lower(), rm.group("name")
    ref = t.metadata.refs.get(name)
    if ref is None:
        raise ValueError(f"table {base!r} has no branch or tag named "
                         f"{name!r}")
    if (kind == "branch") != (ref.type == "branch"):
        raise ValueError(f"{name!r} is a {ref.type}, not a {kind} "
                         f"(use .{ref.type}_{name})")
    return t, None, name


def _parse_asof_ms(raw: str, spark=None) -> int:
    """TIMESTAMP AS OF literal → epoch millis: numbers are epoch SECONDS
    (Spark/Iceberg semantics); naive timestamp strings resolve in the
    session time zone (spark.sql.session.timeZone), as Spark reads them."""
    import datetime as _dt

    if not raw.startswith("'"):
        return int(round(float(raw) * 1000))
    v = _dt.datetime.fromisoformat(raw[1:-1])
    if v.tzinfo is None:
        tzname = "UTC"
        if spark is not None:
            tzname = spark.conf.get("spark.sql.session.timeZone", "UTC")
        from zoneinfo import ZoneInfo

        try:
            v = v.replace(tzinfo=ZoneInfo(tzname))
        except Exception:
            raise ValueError(
                f"cannot resolve session timezone {tzname!r} for a naive "
                f"TIMESTAMP AS OF literal; use an explicit offset")
    return int(v.timestamp() * 1000)


def _plans(spark, plan, parent=None, ctes=frozenset(), pattern=None):
    """(node, kind, parent kind, CTE names in scope) for each plan node of
    a parsed query — CTE bodies and subquery-expression plans included,
    which `children()` does not reach (nor a RelationTimeTravel's
    `.relation()`, read by the caller)."""
    from py4j.java_gateway import is_instance_of

    pattern = pattern or spark._jvm.org.apache.spark.sql.catalyst.trees \
        .TreePattern.PLAN_EXPRESSION()
    kind = _kind(plan)
    yield plan, kind, parent, ctes
    subs = _seq(plan.children())
    if kind == "UnresolvedWith":
        defs = _seq(plan.cteRelations())
        ctes = ctes | {d._1().lower() for d in defs}
        subs = [d._2() for d in defs] + subs
    exprs = _seq(plan.expressions()) if plan.containsPattern(pattern) else []
    while exprs:
        e = exprs.pop()
        if not e.containsPattern(pattern):
            continue
        if is_instance_of(spark.sparkContext._gateway, e,
                          "org.apache.spark.sql.catalyst.expressions."
                          "SubqueryExpression"):
            subs.append(e.plan())
        else:
            exprs += _seq(e.children())
    for sub in subs:
        yield from _plans(spark, sub, kind, ctes, pattern)


def _select(spark: SparkSession, text: str, plan, catalog=None,
            start: int = 0) -> DataFrame:
    """Run the query `text[start:]`, parsed as `plan`: each icelake
    relation (with VERSION | TIMESTAMP AS OF, .branch_x / .tag_x and
    metadata suffixes) becomes a temp view whose name replaces its span
    — `<view> AS <last name part>` when it has no alias — and Spark SQL
    runs the rest. Other names (Spark views, CTEs) pass through."""
    edits, views = [], []
    try:
        for node, kind, parent, ctes in _plans(spark, plan):
            rel = (node.relation() if kind == "RelationTimeTravel"
                   else node if kind == "UnresolvedRelation" else None)
            if rel is None:
                continue
            parts = _parts(rel)
            if len(parts) == 1 and parts[0].lower() in ctes:
                continue
            table, suffix, ref = _resolve_select_ref(parts, catalog, spark)
            if table is None:
                continue
            scan = {"ref": ref} if ref is not None else {}
            if kind == "RelationTimeTravel":
                if ref is not None:
                    raise ValueError("cannot combine a .branch_/.tag_ "
                                     "selector with VERSION/TIMESTAMP AS OF")
                ts, version = _opt(node.timestamp()), _opt(node.version())
                if ts is not None:
                    scan["as_of_ms"] = _parse_asof_ms(_src(text, ts), spark)
                elif text[_span(node)[1] - 1] in "'\"":  # a quoted ref name
                    scan["ref"] = version
                else:
                    scan["snapshot_id"] = int(version)
                edits.append((*_span(node), ""))
            if suffix in _TABLE_LEVEL_SUFFIXES:
                if scan:
                    raise ValueError(
                        f"time travel is not supported on the table-level "
                        f".{suffix} metadata table (it already spans all "
                        f"snapshots)")
                df = getattr(table, _META_SUFFIXES[suffix])(spark)
            elif suffix is not None:
                sid = scan.get("snapshot_id")
                if scan and sid is None:
                    snap = table.snapshot(**scan)
                    sid = snap.snapshot_id if snap else None
                df = getattr(table, _META_SUFFIXES[suffix])(spark, sid)
            else:
                df = table.to_df(spark, **scan)
            view = f"__icelake_select_{next(_VIEW_SEQ)}"
            df.createOrReplaceTempView(view)
            views.append(view)
            a, b = _span(rel)
            # `TABLE t` (the query form) takes no alias
            if parent != "SubqueryAlias" and not re.search(
                    r"\bTABLE\s*$", text[:a], re.IGNORECASE):
                name = suffix or parts[-2 if ref and len(parts) > 1 else -1]
                view += " AS " + _quote(name.rstrip("/").rsplit("/", 1)[-1])
            edits.append((a, b, view))
        out, pos = [], start
        for a, b, new in sorted(edits):
            out += [text[pos:a], new]
            pos = b
        out.append(text[pos:])
        return spark.sql("".join(out))  # analyzed eagerly: views can drop
    finally:
        for v in views:
            spark.catalog.dropTempView(v)


_STATEMENTS = dict.fromkeys(
    ("CreateTable", "CreateTableAsSelect", "ReplaceTable",
     "ReplaceTableAsSelect"), _create_table) | dict.fromkeys(
    ("AddColumns", "AlterColumns", "RenameColumn", "DropColumns",
     "SetTableProperties"), _alter_table) | {
    "DeleteFromTable": _delete, "UpdateTable": _update,
    "InsertIntoStatement": _insert_into, "Call": _call,
    "CreateNamespace": _create_namespace, "DropTable": _drop,
    "DropNamespace": _drop, "ShowTables": _show_tables,
    "ShowTableProperties": _show_properties, "DescribeRelation": _describe,
    "AnalyzeTable": _analyze, "AnalyzeColumn": _analyze}
