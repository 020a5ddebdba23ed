"""Scan pruning (icelake_spark/pruning.py): one bound expression prunes
manifests, partitions and files, and a pruned read returns exactly the
rows Spark's own filter returns.

- inclusive projection, one test per partition transform, against
  `apply_transform_py`;
- the front ends: `filter=` text bound by Spark's analyzer, the
  DataSource's pushed `Filter` objects, `partition_filter`;
- wrong-result probes of the earlier hand-parsed dialect;
- a Hypothesis property: on random tables, specs (with one spec
  evolution) and filters, every pruned read equals the unpruned read
  filtered by Spark.
"""

import datetime as dt
import itertools
from decimal import Decimal

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from icelake_spark import pruning
from icelake_spark.types import Schema
from icelake_spark.types.datatypes import PrimitiveType, parse_value
from icelake_spark.types.transforms import apply_transform_py

_names = itertools.count()


def _rows(df):
    """Order-free row list; repr keeps NaN rows comparable."""
    return sorted(repr(tuple(r)) for r in df.collect())


def _holds(op, a, b) -> bool:
    if op == "in":
        return a in b
    return {"=": a == b, "<": a < b, "<=": a <= b, ">": a > b,
            ">=": a >= b}[op]


# ------------------------------------------------- inclusive projection

_LONG, _STR = PrimitiveType("long"), PrimitiveType("string")
_DATE, _TSTZ = PrimitiveType("date"), PrimitiveType("timestamptz")
_DEC = PrimitiveType("decimal", 9, 2)
_longs = st.integers(-10**6, 10**6)
_strs = st.text("ab'z é", max_size=6)
_dates = st.dates(dt.date(1960, 1, 1), dt.date(2030, 12, 31))
_tstz = st.datetimes(dt.datetime(1960, 1, 1), dt.datetime(2030, 12, 31),
                     timezones=st.just(dt.timezone.utc))
_decs = st.decimals(-10**4, 10**4, places=2)
_OPS = ["=", "<", "<=", ">", ">=", "in"]

_TRANSFORMS = {
    "identity": (_LONG, _longs), "bucket[8]": (_LONG, _longs),
    "bucket[5]": (_STR, _strs), "truncate[10]": (_LONG, _longs),
    "truncate[3]": (_STR, _strs), "truncate[50]": (_DEC, _decs),
    "year": (_DATE, _dates), "month": (_TSTZ, _tstz),
    "day": (_TSTZ, _tstz), "hour": (_TSTZ, _tstz), "void": (_LONG, _longs),
}


@pytest.mark.parametrize("transform", sorted(_TRANSFORMS))
@settings(max_examples=150, deadline=None)
@given(data=st.data())
def test_inclusive_projection(transform, data):
    """Whenever `x op v` holds, the projected predicate holds for
    transform(x). Bucket projects only `=` and `in`; void projects
    nothing."""
    typ, values = _TRANSFORMS[transform]
    op = data.draw(st.sampled_from(_OPS))
    x = data.draw(values)
    v = (tuple(data.draw(st.lists(values, min_size=1, max_size=3)) + [x])
         if op == "in" else data.draw(values | st.just(x)))
    p = pruning.project(op, v, transform, typ)
    if transform == "void" or transform.startswith("bucket") \
            and op not in ("=", "in"):
        assert p is None
        return
    assert p is not None
    if _holds(op, x, v):
        assert _holds(p[0], apply_transform_py(transform, x, typ), p[1])


# ------------------------------------------------------------ front ends


def _schema(spark, ddl):
    return Schema.from_spark(spark.createDataFrame([], ddl).schema)


def test_filters_bind_with_spark_typing(spark):
    """The analyzer front end: Spark's implicit casts decide the leaf.
    `<>` and `!=` are unknown (never a `<` over a corrupt literal);
    backslash escapes, `||` of literals and doubled quotes fold to the
    value Spark compares with; a column under a cast or a function is
    unknown; NOT is pushed to the leaves; column case is ignored."""
    sch = _schema(spark, "name string, id long, b boolean, s string, "
                  "ts timestamp, d decimal(10,2)")
    name, id_, b = (sch.field_by_name(c).field_id for c in ("name", "id", "b"))

    def bind(text):
        return pruning.from_sql(spark, text, sch)

    assert bind("name<>'x'") is None and bind("name != 'x'") is None
    assert bind("name=='x'") == pruning.Leaf(name, "=", "x")
    assert bind(r"name = 'don\'t panic' AND id = 1") == (
        "and", (pruning.Leaf(name, "=", "don't panic"),
                pruning.Leaf(id_, "=", 1)))
    assert bind("name = 'x' || 'y'") == pruning.Leaf(name, "=", "xy")
    assert bind("name = 'x' || id") is None
    assert bind("name = 'it''s'") == pruning.Leaf(name, "=", "it's")
    assert bind("b = 'yes'") == pruning.Leaf(b, "=", True)
    assert bind("s > 5") is None and bind("length(name) = 1") is None
    assert bind("NOT (id < 3 OR name IS NULL)") == (
        "and", (pruning.Leaf(id_, ">=", 3),
                pruning.Leaf(name, "not_null")))
    assert bind("NOT (id = 2 AND length(name) = 1)") is None
    assert bind("ID IN (3, 1, NULL)") == pruning.Leaf(id_, "in", (3, 1))
    assert bind("3 < id") == pruning.Leaf(id_, ">", 3)
    assert bind("id <=> NULL") == pruning.Leaf(id_, "is_null")
    assert bind("id IN (5, 'x')") is None  # fold error: no pruning
    assert bind("nosuch = 1") is None
    assert bind("d = 1.5").value == Decimal("1.50")
    ts = bind("ts >= '2024-03-10 02:30:00.000001'").value
    assert ts == dt.datetime(2024, 3, 10, 2, 30, 0, 1,
                             tzinfo=dt.timezone.utc)


def test_datasource_filters_bind_directly(spark):
    """The DataSource front end takes Spark's typed Filter values as
    they are, with NOT pushed to the leaves."""
    from pyspark.sql.datasource import (EqualNullSafe, EqualTo,
                                        GreaterThan, In, IsNull, LessThan,
                                        Not, StringStartsWith)

    sch = _schema(spark, "id long, day date, name string")
    id_, day = sch.field_by_name("id").field_id, sch.field_by_name("day").field_id
    d = dt.date(2024, 1, 5)
    got = pruning.from_filters(
        [EqualTo(("id",), 3), Not(LessThan(("day",), d)),
         In(("id",), (1, None, 2)), Not(EqualTo(("id",), 4)),
         StringStartsWith(("name",), "a"), GreaterThan(("nosuch",), 1),
         EqualNullSafe(("ID",), None), Not(IsNull(("day",)))], sch)
    assert got == ("and", (
        pruning.Leaf(id_, "=", 3), pruning.Leaf(day, ">=", d),
        pruning.Leaf(id_, "in", (1, 2)), pruning.Leaf(id_, "is_null"),
        pruning.Leaf(day, "not_null")))


def test_zone_map_pruning_handles_doubled_quote_literals(spark, warehouse):
    """filter=\"name = 'it''s'\" returns the row holding "it's": a
    doubled quote must reach the zone map unescaped, or the file
    holding the row is pruned."""
    sch = _schema(spark, "id long, name string")
    name = sch.field_by_name("name").field_id
    assert pruning.from_sql(spark, "name = 'it''s'", sch) \
        == pruning.Leaf(name, "=", "it's")
    assert pruning.from_sql(spark, '''name = "he said ""hi"""''', sch) \
        == pruning.Leaf(name, "=", 'he said "hi"')
    assert pruning.from_sql(spark, "name = 'plain'", sch) \
        == pruning.Leaf(name, "=", "plain")

    src = spark.createDataFrame(
        [(1, "it's"), (2, "zzz")], "id long, name string")
    t = warehouse.create_table("db.quoted", Schema.from_spark(src.schema))
    t = t.refresh()
    t.append(src)
    t = t.refresh()
    got = [r.id for r in
           t.new_scan(filter="name = 'it''s'").to_df(spark).collect()]
    assert got == [1], got


def test_filter_parser_hostile_literals_never_prune(spark, warehouse):
    """Literals that a hand tokenizer misread (`<>`, backslash escapes,
    `||`, doubled quotes) return exactly Spark's rows, one row per
    file."""
    src = spark.createDataFrame(
        [(1, "x"), (2, "don't panic"), (3, "it's"), (4, "xy"), (5, "x1")],
        "id long, name string")
    t = warehouse.create_table("db.hostile", Schema.from_spark(src.schema))
    for i in range(1, 6):
        t.append(src.where(f"id = {i}"))
    t = t.refresh()
    full = t.to_df(spark)
    for cond in ["name<>'x'", "name=='x'", r"name = 'don\'t panic' AND id = 2",
                 "name = 'x' || 'y'", "name = 'x' || id", "name = 'it''s'"]:
        assert _rows(t.to_df(spark, filter=cond)) == _rows(full.where(cond)), cond


def test_partition_filter_coercion_tz_decimal_boolean(spark, warehouse):
    """Convenience-typed partition_filter values coerce to comparable
    python types (types.parse_value): a timestamptz string becomes
    UTC-aware (naive against aware either crashed planning or pruned
    every file), decimal strings become Decimal, boolean strings become
    bool."""
    from icelake_spark.types import PartitionField, PartitionSpec

    ts = parse_value(PrimitiveType("timestamptz"), "2024-01-01T00:00:00")
    assert ts.tzinfo is not None
    assert parse_value(PrimitiveType("decimal", 10, 2), "1.50") \
        == Decimal("1.50")
    assert parse_value(PrimitiveType("boolean"), "true") is True
    # end-to-end: identity timestamptz partition + string filter value
    src = spark.sql(
        "SELECT id, timestamp'2024-01-0" "1 00:00:00+00:00' AS ts "
        "FROM range(3)")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("ts").field_id, 1001, "identity", "ts"),))
    t = warehouse.create_table("db.tzpart", schema, spec=spec)
    t.append(src)
    t = t.refresh()
    got = t.new_scan(
        partition_filter={"ts": "2024-01-01T00:00:00"}).to_df(spark)
    assert got.count() == 3  # neither a crash nor a full prune


# ------------------------------------------------ wrong-result probes


@pytest.mark.parametrize("ddl,values,cond", [
    ("b boolean", [True, False], "b = 'yes'"),
    ("s string", ["10", "3", "7"], "s > 5"),
    ("x double", [1.0, float("nan")], "x > 5"),
    ("x double", [-0.0, 3.0], "x = 0.0"),
])
def test_pruned_filter_and_delete_match_spark(spark, warehouse, ddl, values,
                                              cond):
    """One row per file. `to_df(filter=c)` equals `to_df().where(c)`,
    and after `delete_where(c)` the table equals the old
    `where(NOT (c))`. The hand dialect read `'yes'` as false and
    compared `'10' > '5'` as strings, pruning files that match."""
    sch = _schema(spark, f"id long, {ddl}")
    t = warehouse.create_table(f"db.probe{next(_names)}", sch)
    for i, v in enumerate(values):
        t.append(spark.createDataFrame([(i, v)], sch.to_spark()))
    t = t.refresh()
    full = t.to_df(spark)
    assert _rows(t.to_df(spark, filter=cond)) == _rows(full.where(cond))
    want = _rows(full.where(f"NOT ({cond})"))
    t.delete_where(spark, cond)
    assert _rows(t.refresh().to_df(spark)) == want


# ------------------------------------------------------ pruning reach


def test_filter_prunes_bucket_partitions_like_partition_filter(spark,
                                                               warehouse):
    """`filter="user_id = X"` reaches a bucket[8](user_id) spec through
    inclusive projection: after 12 appends it keeps the same files
    `partition_filter` keeps, not all of them."""
    sch = _schema(spark, "user_id long, v long")
    t = warehouse.create_table("db.bucketed", sch)
    t.update_spec("bucket[8](user_id)")
    for i in range(12):
        t.append(spark.range(64).selectExpr("id AS user_id", f"{i} AS v"))
    t = t.refresh()
    everything, _, _ = t.new_scan().plan_files()
    by_filter, _, _ = t.new_scan(filter="user_id = 7").plan_files()
    by_partition, _, _ = t.new_scan(
        partition_filter={"user_id": 7}).plan_files()
    paths = sorted(d.data_file.file_path for d in by_filter)
    assert paths == sorted(d.data_file.file_path for d in by_partition)
    assert len(paths) == 12 and len(everything) == 96
    assert t.to_df(spark, filter="user_id = 7").count() == 12


def test_parenthesized_or_prunes(spark, warehouse):
    """A parenthesised OR under an AND prunes: the hand parser turned
    pruning off at any parenthesis."""
    src = spark.range(40).selectExpr("id", "IF(id = 3, 'x', 'y') AS name")
    t = warehouse.create_table("db.paren", Schema.from_spark(src.schema))
    for lo in range(0, 40, 10):
        t.append(src.where(f"id >= {lo} AND id < {lo + 10}"))
    t = t.refresh()
    cond = "(id = 2 OR id = 3) AND name = 'x'"
    kept, _, _ = t.new_scan(filter=cond).plan_files()
    assert len(kept) == 1 < len(t.new_scan().plan_files()[0])
    assert [r.id for r in t.to_df(spark, filter=cond).collect()] == [3]


# -------------------------------------------------- property: pruning


_TS0 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
_COLS = "id long, v long, x double, s string, d date, ts timestamp"
_row = st.tuples(
    st.none() | st.integers(-3, 12),
    st.none() | st.sampled_from([-0.0, 0.0, 1.5, 7.0, float("nan")]),
    st.none() | st.sampled_from(["a", "it's", "or", "b or c", "zz", ""]),
    st.none() | st.dates(dt.date(2024, 1, 1), dt.date(2024, 3, 31)),
    st.none() | st.integers(0, 24 * 40).map(
        lambda h: _TS0 + dt.timedelta(hours=h)))
_SPECS = ["v", "bucket[4](v)", "bucket[3](v)", "truncate[5](v)",
          "truncate[1](s)", "s", "day(ts)", "month(d)", "d"]
_literals = {
    "v": st.sampled_from(["3", "-1", "12", "'5'", "2.5"]),
    "x": st.sampled_from(["0.0", "-0.0", "1.5", "7", "'NaN'"]),
    "s": st.sampled_from(["'a'", "'it''s'", "'or'", "'b or c'", "'zz'"]),
    "d": st.sampled_from(["'2024-01-15'", "DATE'2024-02-01'",
                          "'2024-03-31'"]),
    "ts": st.sampled_from(["'2024-01-05 00:00:00'", "'2024-02-01'",
                           "TIMESTAMP'2024-01-10 12:00:00'"]),
}


@st.composite
def _atoms(draw):
    col = draw(st.sampled_from(sorted(_literals)))
    lit = _literals[col]
    kind = draw(st.sampled_from(["cmp", "cmp", "in", "null"]))
    if kind == "in":
        vals = draw(st.lists(lit, min_size=1, max_size=3))
        return f"{col} IN ({', '.join(vals)})"
    if kind == "null":
        return f"{col} IS {draw(st.sampled_from(['', 'NOT ']))}NULL"
    op = draw(st.sampled_from(["=", "<", "<=", ">", ">=", "!=", "<=>"]))
    return f"{col} {op} {draw(lit)}"


_filters = st.recursive(
    _atoms(),
    lambda inner: st.one_of(
        st.tuples(inner, st.sampled_from(["AND", "OR"]), inner)
        .map(lambda t: f"({t[0]} {t[1]} {t[2]})"),
        inner.map(lambda f: f"NOT ({f})")),
    max_leaves=4)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(rows=st.lists(_row, min_size=2, max_size=6),
       split=st.integers(1, 5),
       specs=st.tuples(st.sampled_from(_SPECS), st.sampled_from(_SPECS)),
       filters=st.lists(_filters, min_size=2, max_size=3),
       pf_row=st.integers(0, 5))
def test_pruned_read_equals_spark_filter(spark, warehouse, rows, split, specs,
                                         filters, pf_row):
    """A pruned read equals the unpruned read filtered by Spark, through
    `to_df(filter=)`, `partition_filter` and `format("icelake").where`,
    over random rows (NaN, -0.0, nulls, quotes, the word `or`), two
    specs (one spec evolution) and random AND/OR/NOT/IN/IS NULL
    filters with mixed-type literals."""
    from icelake_spark import datasource

    datasource.register(spark)
    data = [(i, *r) for i, r in enumerate(rows)]
    sch = _schema(spark, _COLS)
    t = warehouse.create_table(f"db.prop{next(_names)}", sch)
    t.update_spec(specs[0])
    cut = min(split, len(data) - 1)
    for chunk, spec in ((data[:cut], None), (data[cut:], specs[1])):
        if spec is not None:
            t.refresh().update_spec(spec)
        for r in chunk:  # one file per row: pruning decides per row
            t.refresh().append(spark.createDataFrame([r], sch.to_spark()))
    t = t.refresh()
    full = t.to_df(spark)
    for f in filters:
        want = _rows(full.where(f))
        assert _rows(t.to_df(spark, filter=f)) == want, f
        # a fresh load per query: Spark keeps the read plan of the last
        # query that pushed filters on a loaded DataFrame
        fmt = spark.read.format("icelake").option("path", t.path).load()
        assert _rows(fmt.where(f)) == want, f
    # partition_filter on each field of the current spec, by the value
    # of one row, against python's transform of every row
    names = sch.to_spark().fieldNames()
    got_rows = full.collect()

    def transformed(row, pf, src):
        v = row[names.index(src.name)]
        if isinstance(v, dt.datetime):  # collected naive, in local time
            v = v.astimezone(dt.timezone.utc)
        return apply_transform_py(pf.transform, v, src.field_type)

    r = got_rows[pf_row % len(got_rows)]
    for pf in t.metadata.default_spec().fields:
        src = sch.field_by_id(pf.source_column_id)
        val = transformed(r, pf, src)
        want = sorted(repr(tuple(x)) for x in got_rows
                      if transformed(x, pf, src) == val)
        got = _rows(t.to_df(spark, partition_filter={pf.name: val}))
        assert got == want, (pf, val)
