"""One pruning expression for every scan (Iceberg scan planning,
https://iceberg.apache.org/spec/#scan-planning).

A scan binds its predicates once into a tree over field ids, and one
"might match" evaluator over value ranges (`in_range`) prunes manifests
(FieldSummaries), partitions (a file's partition tuple, reached by
inclusive projection) and files (column bounds and counts). A `Leaf` is
`(field id, op, typed literal, transform)`; the transform is None for a
predicate on the column itself. `("and", parts)` and `("or", parts)`
combine leaves, and None is an unknown predicate (`!=`, `NOT IN`, a
column under a cast or a function), which keeps every file. NOT is
pushed to the leaves as the tree is built. Front ends: `from_sql`
(`filter=` text, bound by Spark's analyzer), `from_filters` (the
DataSource's pushed `Filter` objects, in a planner worker without a JVM)
and `from_partition_filter`. Spark still applies the whole filter.
"""

from __future__ import annotations

import datetime as dt
import itertools
import json
import struct
from dataclasses import dataclass
from typing import Any

from .types import (PrimitiveType, Schema, decode_bound, parse_value,
                    to_spark_type)
from .types.metadata import TableMetadata
from .types.transforms import (apply_transform_py, parse_transform,
                               transform_result_type)

# the types whose literals and bounds compare as python values
_PRUNABLE = {"boolean", "int", "long", "float", "double", "decimal",
             "string", "date", "timestamp", "timestamptz"}
_OPS = {"EqualTo": "=", "EqualNullSafe": "=", "LessThan": "<",
        "LessThanOrEqual": "<=", "GreaterThan": ">",
        "GreaterThanOrEqual": ">=", "In": "in", "IsNull": "is_null",
        "IsNotNull": "not_null"}
# NOT pushed onto a leaf; `=` and `in` negate to unknown
_NEGATE = {"<": ">=", "<=": ">", ">": "<=", ">=": "<",
           "is_null": "not_null", "not_null": "is_null"}
# a comparison read from the literal's side (`5 < x` is `x > 5`)
_FLIP = {"LessThan": "GreaterThan", "GreaterThan": "LessThan",
         "LessThanOrEqual": "GreaterThanOrEqual",
         "GreaterThanOrEqual": "LessThanOrEqual"}


@dataclass(frozen=True)
class Leaf:
    fid: int
    op: str
    value: Any = None  # a tuple for `in`; None for the null tests
    transform: str | None = None


def conj(parts) -> Any:
    """AND: an unknown part drops out (it might match)."""
    parts = [p for p in parts if p is not None]
    return (parts[0] if len(parts) == 1 else ("and", tuple(parts))) \
        if parts else None


def disj(parts) -> Any:
    """OR: unknown as soon as one part is."""
    parts = list(parts)
    if not parts or any(p is None for p in parts):
        return None
    return parts[0] if len(parts) == 1 else ("or", tuple(parts))


def _isnan(v) -> bool:
    return isinstance(v, float) and v != v


def leaf(fid: int, op: str, value: Any = None, negate: bool = False):
    """A leaf, or None (unknown) for a null or NaN literal, an empty IN
    list, or a negation with no leaf form (`!=`, `NOT IN`)."""
    op = _NEGATE.get(op) if negate else op
    if op == "in":
        value = tuple(dict.fromkeys(v for v in value if v is not None))
        if not value or any(_isnan(v) for v in value):
            return None
    elif op in (None, "is_null", "not_null"):
        return op and Leaf(fid, op)
    elif value is None or _isnan(value):
        return None
    return Leaf(fid, op, value)


def leaves(expr) -> list:
    if isinstance(expr, tuple):
        return [lf for p in expr[1] for lf in leaves(p)]
    return [] if expr is None else [expr]


# ------------------------------------------------------------- evaluation


def in_range(op: str, v: Any, lo: Any = None, hi: Any = None,
             nulls: bool = True, values: bool = True,
             nans: bool = False) -> bool:
    """Might values satisfy `x op v`? Their non-NaN values lie in
    [lo, hi] (None or NaN: unknown), and they may hold `nulls`, non-null
    `values` and `nans`; Spark sorts NaN above every number."""
    if op in ("is_null", "not_null"):
        return nulls if op == "is_null" else values
    if not values:
        return False
    if op == "in":
        return any(in_range("=", x, lo, hi) for x in v)
    if nans and op in (">", ">="):
        return True
    try:
        if lo is not None and lo == lo and (
                v < lo if op in ("=", "<=") else op == "<" and v <= lo):
            return False
        if hi is not None and hi == hi and (
                v > hi if op in ("=", ">=") else op == ">" and v >= hi):
            return False
    except TypeError:
        pass
    return True


def might_match(expr, range_of) -> bool:
    """False only when no row can match `expr`; `range_of(leaf)` gives
    the `in_range` keywords of the values a leaf tests, or None."""
    if isinstance(expr, tuple):
        test = all if expr[0] == "and" else any
        return test(might_match(p, range_of) for p in expr[1])
    if expr is None:
        return True
    r = range_of(expr)
    return r is None or in_range(expr.op, expr.value, **r)


def metrics_might_match(expr, data_file, schema: Schema) -> bool:
    """The file level: column bounds and null, value and NaN counts."""
    if expr is None:
        return True
    fids = {lf.fid for lf in leaves(expr) if lf.transform is None}
    lo = data_file.decoded_bounds(schema, "lower", fids=fids)
    hi = data_file.decoded_bounds(schema, "upper", fids=fids)
    null_c = data_file.null_value_counts or {}
    value_c = data_file.value_counts or {}
    nan_c = data_file.nan_value_counts or {}

    def range_of(lf: Leaf):
        if lf.transform is not None:
            return None
        nc, vc = null_c.get(lf.fid), value_c.get(lf.fid)
        return dict(lo=lo.get(lf.fid), hi=hi.get(lf.fid),
                    nulls=nc is None or nc > 0,
                    values=nc is None or vc is None or vc > nc,
                    nans=(nan_c.get(lf.fid) or 0) > 0)

    return might_match(expr, range_of)


@dataclass(frozen=True)
class _Part:  # a leaf projected onto partition field `pos` of a spec
    pos: int
    name: str
    op: str
    value: Any
    type: PrimitiveType


def project(op: str, value: Any, transform: str,
            source_type: PrimitiveType) -> tuple[str, Any] | None:
    """Inclusive projection: `(op', value')` such that `transform(x) op'
    value'` holds whenever `x op value` does, or None. Identity keeps
    every op, bucket `=` and `in`; truncate and the temporal transforms
    are monotonic, so a strict comparison widens; void keeps none."""
    try:
        name = parse_transform(transform)[0]
        if name == "void" or name == "bucket" and op not in (
                "=", "in", "is_null", "not_null"):
            return None
        if op in ("is_null", "not_null") or name == "identity":
            return op, value
        if op == "in":
            return "in", tuple(dict.fromkeys(
                apply_transform_py(transform, v, source_type) for v in value))
        return ({"<": "<=", ">": ">="}.get(op, op),
                apply_transform_py(transform, value, source_type))
    except (ValueError, TypeError, ArithmeticError):
        return None


def for_specs(expr, metadata: TableMetadata) -> dict[int, Any]:
    """`expr` projected onto each spec's fields, by spec id: a column
    leaf reaches each field over its column, a `(source, transform)`
    leaf the fields with that same pair."""
    schema = metadata.current_schema()

    def proj(e, spec):
        if isinstance(e, tuple):
            return (conj if e[0] == "and" else disj)(
                proj(p, spec) for p in e[1])
        src = schema.field_by_id(e.fid) if e is not None else None
        if src is None or not isinstance(src.field_type, PrimitiveType):
            return None
        parts = []
        for pos, pf in enumerate(spec.fields):
            if pf.source_column_id != e.fid:
                continue
            if e.transform is None:
                p = project(e.op, e.value, pf.transform, src.field_type)
            else:
                p = (e.op, e.value) if pf.transform == e.transform else None
            rt = transform_result_type(pf.transform, src.field_type)
            if p is not None and isinstance(rt, PrimitiveType):
                parts.append(_Part(pos, pf.name, *p, rt))
        return conj(parts)

    return {spec.spec_id: proj(expr, spec) for spec in metadata.partition_specs}


def partition_might_match(part_expr, partition: dict) -> bool:
    """The partition level: a file's partition tuple."""
    def range_of(p: _Part):
        if p.name not in partition:
            return None
        v = partition[p.name]
        return dict(lo=v, hi=v, nulls=v is None, values=v is not None,
                    nans=_isnan(v))

    return might_match(part_expr, range_of)


def summary_might_match(part_expr, summaries: list) -> bool:
    """The manifest level: FieldSummary bounds leave NaNs out."""
    def range_of(p: _Part):
        s = summaries[p.pos] if p.pos < len(summaries) else None
        if not s:
            return None
        try:
            lo, hi = (None if s.get(k) is None
                      else decode_bound(p.type, bytes(s[k]))
                      for k in ("lower_bound", "upper_bound"))
        except (ValueError, TypeError, struct.error):
            lo = hi = None
        return dict(lo=lo, hi=hi, nulls=s.get("contains_null") is not False,
                    nans=(p.type.name in ("float", "double")
                          and s.get("contains_nan") is not False))

    return might_match(part_expr, range_of)


# ------------------------------------------------------------- front ends


def _field(schema: Schema, name: str):
    """The top-level prunable field named `name` (case-insensitive when
    no field has the exact name and the match is unique)."""
    f = schema.field_by_name(name)
    if f is None:
        same = [g for g in schema.fields if g.name.lower() == name.lower()]
        f = same[0] if len(same) == 1 else None
    ok = f is not None and isinstance(f.field_type, PrimitiveType) \
        and f.field_type.name in _PRUNABLE
    return f if ok else None


def _bind(node, schema: Schema, negate: bool = False):
    """The tree of `(Spark filter class name, column, value)` nodes,
    `("Not", node)` and `("And" | "Or", [nodes])`."""
    if node is None:
        return None
    cls = node[0]
    if cls == "Not":
        return _bind(node[1], schema, not negate)
    if cls in ("And", "Or"):
        parts = [_bind(k, schema, negate) for k in node[1]]
        return (conj if (cls == "And") != negate else disj)(parts)
    f = _field(schema, node[1])
    if f is None or cls not in _OPS:
        return None
    op = "is_null" if cls == "EqualNullSafe" and node[2] is None else _OPS[cls]
    return leaf(f.field_id, op, node[2], negate)


def from_filters(filters, schema: Schema):
    """The AND of the DataSource's pushed (typed) `Filter` objects."""
    def node(f):
        if type(f).__name__ == "Not":
            return "Not", node(f.child)
        if len(f.attribute) != 1:
            return None
        return type(f).__name__, f.attribute[0], getattr(f, "value", None)

    return conj(_bind(node(f), schema) for f in filters)


def from_sql(spark, text: str, schema: Schema):
    """`text` bound by Spark's analyzer against `schema` and
    constant-folded, so literals have the types Spark compares with.
    None without a session, or when Spark cannot bind or fold the text
    (the query itself then raises)."""
    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException
    from pyspark.sql import SparkSession

    spark = spark or SparkSession.getActiveSession()
    if spark is None or not text:
        return None
    jvm = spark._jvm
    try:
        jdf = spark._jsparkSession.createDataFrame(
            jvm.java.util.ArrayList(),
            jvm.org.apache.spark.sql.types.DataType.fromJson(
                schema.to_spark().json()))
        cond = jvm.org.apache.spark.sql.catalyst.optimizer.ConstantFolding \
            .apply(jdf.where(text).queryExecution().analyzed()).condition()
        nodes = iter(json.loads(cond.toJSON()))
    except (Py4JError, PySparkException):
        return None
    n_leaves = itertools.count()

    def tree():
        # toJSON lists the nodes in pre-order, the order in which
        # collectLeaves() returns the leaves
        n = next(nodes)
        kids = [tree() for _ in range(n["num-children"])]
        n["cls"], n["kids"] = n["class"].rsplit(".", 1)[-1], kids
        if not kids:
            n["leaf"] = next(n_leaves)
        elif n["cls"] == "Cast" and kids[0].get("dataType") == n["dataType"]:
            return kids[0]  # a no-op cast
        return n

    def value(lit, t: PrimitiveType):
        if lit["value"] is None:
            return None
        if t.name not in ("timestamp", "timestamptz"):
            return parse_value(t, lit["value"])
        # a timestamp's text is formatted in a time zone: read the micros
        micros = cond.collectLeaves().apply(lit["leaf"]).value()
        epoch = dt.datetime(1970, 1, 1, tzinfo=(
            dt.timezone.utc if t.name == "timestamptz" else None))
        return epoch + dt.timedelta(microseconds=micros)

    def node(n):
        cls, kids = n["cls"], n["kids"]
        if cls in ("Not", "And", "Or"):
            sub = [node(k) for k in kids]
            return (cls, sub[0]) if cls == "Not" else (cls, sub)
        if cls not in _OPS:
            return None
        if kids[0]["cls"] != "AttributeReference" and len(kids) == 2 \
                and cls != "In":
            kids, cls = kids[::-1], _FLIP.get(cls, cls)
        col, lits = kids[0], kids[1:]
        f = _field(schema, col["name"]) \
            if col["cls"] == "AttributeReference" else None
        if f is None:
            return None
        stype = to_spark_type(f.field_type).jsonValue()
        if col["dataType"] != stype or any(
                k["cls"] != "Literal" or k["dataType"] != stype for k in lits):
            return None
        try:
            vals = [value(k, f.field_type) for k in lits]
        except (ValueError, TypeError, ArithmeticError):
            return None
        return cls, f.name, (tuple(vals) if cls == "In"
                             else vals[0] if vals else None)

    return _bind(node(tree()), schema)


def residual_partition_field(metadata: TableMetadata, key: str):
    """The partition field a partition_filter key names: the default
    spec's, else older specs' if they all agree on (source, transform)."""
    try:
        f = next((f for f in metadata.default_spec().fields
                  if f.name == key), None)
    except KeyError:
        f = None
    if f is not None:
        return f
    matches = [f for spec in metadata.partition_specs
               for f in spec.fields if f.name == key]
    sigs = {(f.source_column_id, f.transform) for f in matches}
    return matches[0] if len(sigs) == 1 else None


def from_partition_filter(metadata: TableMetadata,
                          partition_filter: dict[str, Any] | None):
    """The AND of `partition_filter`'s equalities, on a partition
    field's (source, transform) or on a column (identity fields too). A
    key naming neither, or whose value does not coerce, is skipped."""
    schema = metadata.current_schema()
    parts = []
    for key, val in (partition_filter or {}).items():
        pf = residual_partition_field(metadata, key)
        src = (schema.field_by_id(pf.source_column_id) if pf is not None
               else schema.field_by_name(key))
        if src is None:
            continue
        transform, vtype = None, src.field_type
        if pf is not None and parse_transform(pf.transform)[0] != "identity":
            transform = pf.transform
            vtype = transform_result_type(transform, src.field_type)
        if isinstance(val, str) and isinstance(vtype, PrimitiveType):
            try:
                val = parse_value(vtype, val)
            except (ValueError, TypeError, ArithmeticError):
                continue
        parts.append(Leaf(src.field_id, "is_null" if val is None else "=",
                          val, transform))
    return conj(parts)
