"""SELECT / DDL lane of icelake_spark.sql.execute.

The statement surface the reference's own harness drives through Spark
SQL (/root/reference/testdata/toml/partition_day_test.toml:45
`SELECT partition FROM t1.partitions`;
testdata/docker/spark-script/inspect-table.sql reads t.files /
t.snapshots / t.manifests; init-table.sql issues the DDL): time travel,
metadata-table suffixes, comma joins, CTE/temp-view resolution order,
literals and comments that must reach Spark intact, and the statements
a regex front end got wrong.
"""

import os

import pytest
from hypothesis import HealthCheck, given, settings, strategies as st
from pyspark.sql import DataFrame, functions as F

from icelake_spark import sql as isql
from icelake_spark.sql import _parse_asof_ms
from icelake_spark.types import Schema


# ------------------------------------------------------------ fixtures

@pytest.fixture()
def cat(warehouse, spark):
    df = spark.range(10).select(
        F.col("id"), (F.col("id") * 2).alias("v"))
    t1 = warehouse.create_table("ns.t1", Schema.from_spark(df.schema))
    t1.append(df)
    df2 = spark.range(5).select(
        F.col("id"), (F.col("id") + 100).alias("w"))
    t2 = warehouse.create_table("ns.t2", Schema.from_spark(df2.schema))
    t2.append(df2)
    return warehouse


def _no_leaked_views(spark):
    return not [v.name for v in spark.catalog.listTables()
                if v.name.startswith("__icelake_select")]


# --------------------------------------------------- SELECT semantics

def test_comma_join(cat, spark):
    r = isql.execute(
        spark,
        "SELECT a.id AS id, a.v AS v, b.w AS w FROM ns.t1 a, ns.t2 b "
        "WHERE a.id = b.id ORDER BY a.id",
        catalog=cat)
    rows = r.collect()
    assert len(rows) == 5
    assert rows[3] == (3, 6, 103)
    assert _no_leaked_views(spark)


def test_comma_join_no_space_and_table_name_qualifier(cat, spark):
    r = isql.execute(
        spark,
        "SELECT t1.id FROM ns.t1,ns.t2 WHERE t1.id = t2.id",
        catalog=cat)
    assert r.count() == 5


def test_table_name_qualifier_without_alias(cat, spark):
    r = isql.execute(spark, "SELECT t1.v FROM ns.t1 WHERE t1.id = 3",
                     catalog=cat)
    assert r.collect()[0][0] == 6


def test_explicit_alias_still_wins(cat, spark):
    r = isql.execute(spark, "SELECT z.v FROM ns.t1 AS z WHERE z.id = 4",
                     catalog=cat)
    assert r.collect()[0][0] == 8
    r = isql.execute(spark, "SELECT z.v FROM ns.t1 z WHERE z.id = 4",
                     catalog=cat)
    assert r.collect()[0][0] == 8


def test_cte_shadows_catalog_table(cat, spark):
    df = spark.range(3).select("id")
    t = cat.create_table("plainsel", Schema.from_spark(df.schema))
    t.append(df)
    r = isql.execute(
        spark,
        "WITH plainsel AS (SELECT 1 AS one) SELECT * FROM plainsel",
        catalog=cat)
    assert r.columns == ["one"] and r.count() == 1


def test_temp_view_shadows_catalog_table(cat, spark):
    df = spark.range(4).select("id")
    t = cat.create_table("shadowed", Schema.from_spark(df.schema))
    t.append(df)
    spark.range(9).toDF("id").createOrReplaceTempView("shadowed")
    try:
        r = isql.execute(spark, "SELECT COUNT(*) AS n FROM shadowed",
                         catalog=cat)
        assert r.collect()[0][0] == 9
    finally:
        spark.catalog.dropTempView("shadowed")


def test_literal_with_keywords_untouched(cat, spark):
    r = isql.execute(
        spark,
        "SELECT ' FROM x JOIN y VERSION AS OF 5, z ' AS lit, id "
        "FROM ns.t1 WHERE id = 0",
        catalog=cat)
    assert r.collect()[0][0] == " FROM x JOIN y VERSION AS OF 5, z "


def test_nested_subquery_from(cat, spark):
    r = isql.execute(
        spark,
        "SELECT mx FROM (SELECT MAX(v) AS mx FROM "
        "(SELECT v FROM ns.t1 WHERE id < 5) q) o",
        catalog=cat)
    assert r.collect()[0][0] == 8


def test_table_statement_form(cat, spark):
    assert isql.execute(spark, "TABLE ns.t1", catalog=cat).count() == 10


# Statement-level checks of literals, comments and FROM lists: each must
# reach Spark's parser intact, whatever the quoting.

def test_skip_quoted_doubling(cat, spark):
    r = isql.execute(
        spark, "SELECT 'it''s' AS a, id FROM ns.t1 WHERE id = 0", catalog=cat)
    assert r.collect()[0] == ("it's", 0)


def test_skip_quoted_backslash(cat, spark):
    r = isql.execute(
        spark, "SELECT 'a\\'b' AS a, id FROM ns.t1 WHERE id = 0", catalog=cat)
    assert r.collect()[0] == ("a'b", 0)


def test_skip_quoted_unterminated_raises(cat, spark):
    with pytest.raises(ValueError):
        isql.execute(spark, "SELECT * FROM ns.t1 WHERE id = 'never closes",
                     catalog=cat)
    assert _no_leaked_views(spark)


def test_requalify_keeps_literals(cat, spark):
    """MERGE alias rewriting touches column references only: alias text
    inside a literal stays as written."""
    spark.createDataFrame([(1, 7, "by a.sync"), (2, 9, "other")],
                          "id long, v long, note string") \
        .createOrReplaceTempView("rq_src")
    isql.merge_into(spark, """
        MERGE INTO ns.t1 AS a USING rq_src AS b ON a.id = b.id
        WHEN MATCHED AND b.note = 'by a.sync' THEN UPDATE SET v = b.v + a.v
    """, catalog=cat)
    rows = dict(cat.load_table("ns.t1").to_df(spark).collect())
    assert rows[1] == 9 and rows[2] == 4


def test_cte_names_outside_literals_only(cat, spark):
    """Both CTE names are declared — the second after a literal holding
    `x AS (` — and both shadow same-named icelake tables."""
    for name in ("c1", "c2"):
        df = spark.range(7).select("id")
        cat.create_table(name, Schema.from_spark(df.schema)).append(df)
    r = isql.execute(
        spark,
        "WITH c1 AS (SELECT 1 AS one), c2 AS (SELECT 'x AS (' AS s) "
        "SELECT * FROM c1, c2",
        catalog=cat)
    assert r.columns == ["one", "s"] and r.collect()[0] == (1, "x AS (")


def test_spots_comma_join_scope(cat, spark):
    r = isql.execute(
        spark, "SELECT a.id, b.w FROM ns.t1 a, ns.t2 b WHERE a.id = b.id "
               "AND a.id > 2 ORDER BY 1", catalog=cat)
    assert [tuple(x) for x in r.collect()] == [(3, 103), (4, 104)]


def test_spots_group_by_comma_not_a_table(cat, spark):
    r = isql.execute(
        spark, "SELECT id % 2 AS g, v % 4 AS h, count(*) AS n FROM ns.t1 "
               "GROUP BY id % 2, v % 4 ORDER BY g, h", catalog=cat)
    assert [tuple(x) for x in r.collect()] == [(0, 0, 5), (1, 2, 5)]


def test_spots_select_list_comma_before_from(cat, spark):
    r = isql.execute(
        spark, "SELECT t1.id, t1.v, t2.w FROM ns.t1, ns.t2 "
               "WHERE t1.id = t2.id ORDER BY 1", catalog=cat)
    assert [tuple(x) for x in r.collect()][-1] == (4, 8, 104)


def test_spots_subquery_from_and_outer_comma(cat, spark):
    r = isql.execute(
        spark,
        "SELECT s1.id, t2.w FROM (SELECT id FROM ns.t1 GROUP BY id, v) s1, "
        "ns.t2 WHERE s1.id = t2.id AND s1.id > 2 ORDER BY 1",
        catalog=cat)
    assert [tuple(x) for x in r.collect()] == [(3, 103), (4, 104)]


def test_spots_function_args_commas_ignored(cat, spark):
    r = isql.execute(
        spark, "SELECT coalesce(t1.id, 0) AS a, least(t1.v, t2.w) AS b "
               "FROM ns.t1, ns.t2 WHERE t1.id = t2.id ORDER BY 1", catalog=cat)
    assert [tuple(x) for x in r.collect()][-1] == (4, 8)


def test_spots_keywords_inside_literals_ignored(cat, spark):
    r = isql.execute(
        spark,
        "SELECT ' FROM fake JOIN fake2, x ' AS lit FROM ns.t1 WHERE id = 1",
        catalog=cat)
    assert r.collect()[0].lit == " FROM fake JOIN fake2, x "


def test_subquery_expressions_and_cte_bodies_resolve(cat, spark):
    r = isql.execute(
        spark,
        "WITH big AS (SELECT id FROM ns.t1 WHERE v >= 10) "
        "SELECT count(*) AS n FROM big "
        "WHERE id IN (SELECT id FROM ns.t2) "
        "AND EXISTS (SELECT 1 FROM ns.t2 WHERE w > 100)",
        catalog=cat)
    assert r.collect()[0].n == 0
    r = isql.execute(
        spark,
        "SELECT (SELECT max(w) FROM ns.t2) AS mw, count(*) AS n FROM ns.t1 "
        "WHERE id IN (SELECT id FROM ns.t2)",
        catalog=cat)
    assert tuple(r.collect()[0]) == (104, 5)


@pytest.fixture()
def lexed(warehouse, spark):
    df = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                               "id long, v long")
    warehouse.create_table("s.lx", Schema.from_spark(df.schema)).append(df)
    spark.createDataFrame([(2, 200), (4, 400)], "id long, v long") \
        .createOrReplaceTempView("lx_src")
    return warehouse


_BASE = [(1, 10), (2, 20), (3, 30)]


@pytest.mark.parametrize("stmt,rows", [
    ("SELECT count(*) FROM `s`.`lx`", [(3,)]),
    ("UPDATE s.lx SET `v` = 99 WHERE id = 2", [(1, 10), (2, 99), (3, 30)]),
    ("DELETE FROM s.lx WHERE id = 3;", [(1, 10), (2, 20)]),
    ("MERGE INTO s.lx t USING lx_src s ON t.id = s.id\n"
     "-- WHEN MATCHED THEN DELETE\n"
     "WHEN MATCHED THEN UPDATE SET *", [(1, 10), (2, 200), (3, 30)]),
    ("MERGE INTO s.lx t USING lx_src s ON t.`id` = s.`id` "
     "WHEN NOT MATCHED THEN INSERT *", _BASE + [(4, 400)]),
    ("MERGE INTO s.lx t USING lx_src s ON t.id = s.id "
     "WHEN MATCHED THEN UPDATE SET `v` = s.v", [(1, 10), (2, 200), (3, 30)]),
    ("INSERT INTO s.lx /* rows */ VALUES (5, 50)", _BASE + [(5, 50)]),
    ("CALL system.rewrite_manifests('s.lx') -- compact", _BASE),
])
def test_statements_a_regex_front_end_rejected(lexed, spark, stmt, rows):
    """Backticked names, comments, a trailing `;`: Spark parses each of
    these, so each must run — the query's rows, else the table's."""
    out = isql.execute(spark, stmt, catalog=lexed)
    got = out if isinstance(out, DataFrame) else \
        lexed.load_table("s.lx").to_df(spark)
    assert sorted(tuple(r) for r in got.collect()) == rows


def test_backticked_path_target_without_catalog(lexed, spark):
    path = lexed.load_table("s.lx").path
    isql.execute(spark, f"DELETE FROM `{path}` WHERE id = 1")
    r = isql.execute(spark, f"SELECT sum(v) AS s FROM `{path}` WHERE id > 0")
    assert r.collect()[0].s == 50


def test_delete_condition_is_the_statement_text(lexed, spark, monkeypatch):
    """The perfbench cdc workload's DELETE hands delete_where exactly the
    text after WHERE."""
    from icelake_spark.table import IcebergTable

    seen = []
    monkeypatch.setattr(IcebergTable, "delete_where",
                        lambda self, spark, cond, branch=None: seen.append(cond))
    lo, width = 1, 2
    isql.execute(spark, f"DELETE FROM s.lx WHERE id >= {lo} "
                        f"AND id < {lo + width}", catalog=lexed)
    assert seen == [f"id >= {lo} AND id < {lo + width}"]


# --------------------------------------------------------- time travel

def test_version_as_of_snapshot_and_ref(cat, spark):
    t = cat.load_table("ns.t1")
    first = t.current_snapshot().snapshot_id
    t.create_tag("v1tag", first)
    t = cat.load_table("ns.t1")
    t.append(spark.range(100, 103).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    t = cat.load_table("ns.t1")
    assert t.to_df(spark).count() == 13
    r = isql.execute(
        spark,
        f"SELECT COUNT(*) AS n FROM ns.t1 VERSION AS OF {first}",
        catalog=cat)
    assert r.collect()[0][0] == 10
    r = isql.execute(spark,
                     "SELECT COUNT(*) AS n FROM ns.t1 VERSION AS OF 'v1tag'",
                     catalog=cat)
    assert r.collect()[0][0] == 10


def test_timestamp_as_of_numeric_is_epoch_seconds(cat, spark):
    """Spark/Iceberg semantics: a numeric TIMESTAMP AS OF literal is
    epoch SECONDS (fractional allowed), not millis — `AS OF 499162860`
    must not resolve a snapshot 1000x earlier."""
    t = cat.load_table("ns.t1")
    snap = t.current_snapshot()
    sec = snap.timestamp_ms / 1000.0 + 0.5
    r = isql.execute(spark,
                     f"SELECT COUNT(*) AS n FROM ns.t1 TIMESTAMP AS OF {sec}",
                     catalog=cat)
    assert r.collect()[0][0] == 10
    assert _parse_asof_ms("499162860") == 499162860000
    assert _parse_asof_ms("499162860.25") == 499162860250


def test_timestamp_as_of_naive_string_uses_session_tz(cat, spark):
    """A naive timestamp string resolves in spark.sql.session.timeZone,
    matching how Spark itself interprets the literal — not pinned UTC."""
    old = spark.conf.get("spark.sql.session.timeZone")
    try:
        spark.conf.set("spark.sql.session.timeZone", "America/New_York")
        # 2022-06-01 12:00 EDT (UTC-4) == 16:00 UTC
        assert _parse_asof_ms("'2022-06-01 12:00:00'", spark) == \
            1654099200000
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        assert _parse_asof_ms("'2022-06-01 12:00:00'", spark) == \
            1654084800000
    finally:
        spark.conf.set("spark.sql.session.timeZone", old)


def test_metadata_suffix_with_time_travel(cat, spark):
    t = cat.load_table("ns.t1")
    first = t.current_snapshot().snapshot_id
    t.append(spark.range(50, 53).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    n_now = isql.execute(spark, "SELECT COUNT(*) AS n FROM ns.t1.files",
                         catalog=cat).collect()[0][0]
    n_then = isql.execute(
        spark,
        f"SELECT COUNT(*) AS n FROM ns.t1.files VERSION AS OF {first}",
        catalog=cat).collect()[0][0]
    assert n_then < n_now


def test_metadata_suffix_qualifier(cat, spark):
    r = isql.execute(spark,
                     "SELECT files.file_path FROM ns.t1.files",
                     catalog=cat)
    assert r.count() >= 1


def test_time_travel_on_snapshots_suffix_raises(cat, spark):
    t = cat.load_table("ns.t1")
    sid = t.current_snapshot().snapshot_id
    for suffix in ("snapshots", "history", "refs"):
        with pytest.raises(ValueError, match="time travel"):
            isql.execute(
                spark,
                f"SELECT * FROM ns.t1.{suffix} VERSION AS OF {sid}",
                catalog=cat)
    assert _no_leaked_views(spark)


def test_insert_from_time_travel_select(cat, spark):
    t = cat.load_table("ns.t1")
    first = t.current_snapshot().snapshot_id
    t.append(spark.range(200, 210).select(
        F.col("id"), (F.col("id") * 2).alias("v")))
    isql.execute(spark, """
        CREATE TABLE ns.t1_restored (id bigint, v bigint) USING iceberg
    """, catalog=cat)
    isql.execute(
        spark,
        f"INSERT INTO ns.t1_restored SELECT id, v FROM ns.t1 "
        f"VERSION AS OF {first}",
        catalog=cat)
    assert cat.load_table("ns.t1_restored").to_df(spark).count() == 10


# ----------------------------------------------------------- fail-loud

def test_corrupt_metadata_propagates(cat, spark, tmp_path):
    """A genuine icelake table whose metadata fails to parse must raise
    the real error, not silently degrade to TABLE_OR_VIEW_NOT_FOUND."""
    bad = os.path.join(cat.warehouse, "ns", "bad")
    os.makedirs(os.path.join(bad, "metadata"))
    with open(os.path.join(bad, "metadata", "v1.metadata.json"), "w") as f:
        f.write("{not json")
    with pytest.raises(Exception) as ei:
        isql.execute(spark, "SELECT * FROM ns.bad", catalog=cat)
    assert "TABLE_OR_VIEW_NOT_FOUND" not in str(ei.value)
    assert _no_leaked_views(spark)


def test_no_view_leak_when_later_table_fails(cat, spark):
    """First ref resolves and registers a view; the second ref's load
    blows up — the first view must still be dropped."""
    bad = os.path.join(cat.warehouse, "ns", "bad2")
    os.makedirs(os.path.join(bad, "metadata"))
    with open(os.path.join(bad, "metadata", "v1.metadata.json"), "w") as f:
        f.write("]]")
    with pytest.raises(Exception):
        isql.execute(spark,
                     "SELECT * FROM ns.t1 a JOIN ns.bad2 b ON a.id = b.id",
                     catalog=cat)
    assert _no_leaked_views(spark)


# ------------------------------------------------------------ DDL

def test_drop_table_lifecycle(cat, spark):
    df = spark.range(2).select("id")
    cat.create_table("ns.dropme", Schema.from_spark(df.schema))
    isql.execute(spark, "DROP TABLE ns.dropme", catalog=cat)
    assert not cat.table_exists("ns.dropme")
    with pytest.raises(FileNotFoundError):
        isql.execute(spark, "DROP TABLE ns.dropme", catalog=cat)
    isql.execute(spark, "DROP TABLE IF EXISTS ns.dropme", catalog=cat)


def test_namespace_lifecycle(cat, spark):
    isql.execute(spark, "CREATE NAMESPACE lifecycle_ns", catalog=cat)
    with pytest.raises(FileExistsError):
        isql.execute(spark, "CREATE NAMESPACE lifecycle_ns", catalog=cat)
    isql.execute(spark, "CREATE NAMESPACE IF NOT EXISTS lifecycle_ns",
                 catalog=cat)
    df = spark.range(1).select("id")
    cat.create_table("lifecycle_ns.inner", Schema.from_spark(df.schema))
    with pytest.raises(ValueError, match="not empty"):
        isql.execute(spark, "DROP NAMESPACE lifecycle_ns", catalog=cat)
    isql.execute(spark, "DROP TABLE lifecycle_ns.inner", catalog=cat)
    isql.execute(spark, "DROP NAMESPACE lifecycle_ns", catalog=cat)
    with pytest.raises(FileNotFoundError):
        isql.execute(spark, "DROP NAMESPACE lifecycle_ns", catalog=cat)
    isql.execute(spark, "DROP NAMESPACE IF EXISTS lifecycle_ns", catalog=cat)


def test_create_alter_timestamp_mapping_agree(cat, spark):
    """The same SQL type spelling must yield the same Iceberg type via
    CREATE TABLE (StructType.fromDDL path) and ALTER ADD COLUMN
    (_SQL_TYPE_MAP path): `timestamp` = session-tz (timestamptz),
    `timestamp_ntz` = no-zone (timestamp)."""
    isql.execute(spark, """
        CREATE TABLE ns.tsmap (id bigint, created timestamp,
                               local_t timestamp_ntz) USING iceberg
    """, catalog=cat)
    isql.execute(spark,
                 "ALTER TABLE ns.tsmap ADD COLUMN updated timestamp",
                 catalog=cat)
    isql.execute(spark,
                 "ALTER TABLE ns.tsmap ADD COLUMN local_u timestamp_ntz",
                 catalog=cat)
    t = cat.load_table("ns.tsmap")
    types = {f.name: str(f.field_type) for f in t.schema().fields}
    assert types["created"] == types["updated"]
    assert types["local_t"] == types["local_u"]
    assert types["created"] != types["local_t"]


def test_create_alter_small_int_types_agree(cat, spark):
    """CREATE TABLE and ALTER ... ADD COLUMN take the same parsed type
    path: tinyint and short widen to Iceberg int in both."""
    isql.execute(spark, "CREATE TABLE ns.small (a tinyint, b short) "
                        "USING iceberg", catalog=cat)
    isql.execute(spark, "ALTER TABLE ns.small ADD COLUMN c tinyint",
                 catalog=cat)
    isql.execute(spark, "ALTER TABLE ns.small ADD COLUMNS (d short)",
                 catalog=cat)
    t = cat.load_table("ns.small")
    types = {f.name: str(f.field_type) for f in t.schema().fields}
    assert types == {"a": "int", "b": "int", "c": "int", "d": "int"}


# ----------------------------------------------------- statement fuzz

_FUZZ_FRAGMENTS = st.sampled_from([
    "SELECT * FROM ns.t1",
    "SELECT id FROM ns.t1, ns.t2",
    "SELECT 'lit FROM x' AS s FROM ns.t1",
    "SELECT * FROM ns.t1 VERSION AS OF 1",
    "SELECT * FROM ns.t1.files",
    "SELECT * FROM nowhere_view",
    "SELECT FROM",
    "SELECT * FROM ns.t1 WHERE id = 'unterminated",
    "SELECT (((",
    "TABLE ns.t1",
    "WITH x AS (SELECT 1) SELECT * FROM x",
    "SELECT * FROM ns.t1 JOIN ns.t2 ON t1.id = t2.id",
])


@given(_FUZZ_FRAGMENTS, st.text(alphabet=" ,'()", max_size=8))
@settings(max_examples=25, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
def test_select_fuzz_resolves_or_raises(cat, spark, fragment, tail):
    """Any statement either executes or raises — and never leaves a
    __icelake_select temp view behind."""
    try:
        df = isql.execute(spark, fragment + tail, catalog=cat)
        if df is not None:
            df.count()
    except Exception:
        pass
    assert _no_leaked_views(spark)
