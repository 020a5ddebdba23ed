"""MERGE INTO SQL entry (icelake_spark/sql.py) over delta.merge.

Mirrors the reference's SQL-driven delta-writer integration semantics
(/root/reference/icelake/tests/delta_test_v2.rs:101-226): MERGE with
WHEN MATCHED UPDATE / DELETE and WHEN NOT MATCHED INSERT against an
equality-delta (merge-on-read) table, verified by final table state.
"""

import pytest

from icelake_spark.sql import merge_into
from icelake_spark.types import Schema


def _mk(catalog, spark, name="s1.t1"):
    df = spark.createDataFrame(
        [(1, 10, 100), (2, 20, 200), (3, 30, 300)], "id long, key long, value long")
    t = catalog.create_table(name, Schema.from_spark(df.schema))
    t.append(df)
    return t


def _state(t, spark):
    return sorted(tuple(r) for r in t.to_df(spark).collect())


def test_merge_update_and_insert(warehouse, spark):
    cat = warehouse
    _mk(cat, spark)
    src = spark.createDataFrame(
        [(2, 21, 201), (4, 40, 400)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src")
    merge_into(spark, """
        MERGE INTO s1.t1 AS t USING m_src AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """, catalog=cat)
    assert _state(cat.load_table("s1.t1"), spark) == [
        (1, 10, 100), (2, 21, 201), (3, 30, 300), (4, 40, 400)]


def test_merge_delete(warehouse, spark):
    cat = warehouse
    _mk(cat, spark)
    src = spark.createDataFrame([(1, 0, 0), (9, 0, 0)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_del")
    merge_into(spark, """
        MERGE INTO s1.t1 USING m_src_del AS s
        ON s1.t1.id = s.id
        WHEN MATCHED THEN DELETE
    """, catalog=cat)
    # id=1 deleted; id=9 matched nothing and there is no INSERT clause
    assert _state(cat.load_table("s1.t1"), spark) == [
        (2, 20, 200), (3, 30, 300)]


def test_merge_matched_condition_gates_update(warehouse, spark):
    cat = warehouse
    _mk(cat, spark)
    src = spark.createDataFrame(
        [(1, 11, -1), (2, 22, 5)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_cond")
    merge_into(spark, """
        MERGE INTO s1.t1 AS t USING m_src_cond AS s
        ON t.id = s.id
        WHEN MATCHED AND s.value > 0 THEN UPDATE SET *
    """, catalog=cat)
    # id=1 fails the gate (value=-1) and keeps its old row
    assert _state(cat.load_table("s1.t1"), spark) == [
        (1, 10, 100), (2, 22, 5), (3, 30, 300)]


def test_merge_insert_only(warehouse, spark):
    cat = warehouse
    _mk(cat, spark)
    src = spark.createDataFrame(
        [(3, 99, 99), (5, 50, 500)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_ins")
    merge_into(spark, """
        MERGE INTO s1.t1 AS t USING m_src_ins AS s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *
    """, catalog=cat)
    # matched id=3 untouched (no WHEN MATCHED clause)
    assert _state(cat.load_table("s1.t1"), spark) == [
        (1, 10, 100), (2, 20, 200), (3, 30, 300), (5, 50, 500)]


def test_merge_source_df_bypasses_view(warehouse, spark):
    cat = warehouse
    _mk(cat, spark)
    src = spark.createDataFrame([(6, 60, 600)], "id long, key long, value long")
    merge_into(spark, """
        MERGE INTO s1.t1 AS t USING whatever AS s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT *
    """, catalog=cat, source_df=src)
    assert (6, 60, 600) in _state(cat.load_table("s1.t1"), spark)


def test_merge_multi_key_on(warehouse, spark):
    cat = warehouse
    df = spark.createDataFrame(
        [(1, 10, 100), (1, 20, 200)], "id long, key long, value long")
    t = cat.create_table("s1.t2", Schema.from_spark(df.schema))
    t.append(df)
    src = spark.createDataFrame([(1, 20, 999)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_mk")
    merge_into(spark, """
        MERGE INTO s1.t2 AS t USING m_src_mk AS s
        ON t.id = s.id AND t.key = s.key
        WHEN MATCHED THEN UPDATE SET *
    """, catalog=cat)
    assert _state(cat.load_table("s1.t2"), spark) == [(1, 10, 100), (1, 20, 999)]


@pytest.mark.parametrize("stmt,msg", [
    ("MERGE INTO t USING s ON t.a = s.b WHEN MATCHED THEN UPDATE SET *",
     "same column name"),
    ("MERGE INTO t USING s ON t.id = s.id "
     "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET x = 1 "
     "WHEN NOT MATCHED BY SOURCE THEN DELETE",
     "may omit its AND condition"),
    ("MERGE INTO t USING s ON t.id = s.id "
     "WHEN NOT MATCHED THEN INSERT (id) VALUE (1)", "unsupported MERGE clause"),
    ("MERGE INTO t USING s ON t.id = s.id "
     "WHEN MATCHED THEN UPDATE SET value = 1, value = 2",
     "duplicate SET column"),
    ("MERGE INTO t USING s ON t.id = s.id "
     "WHEN NOT MATCHED THEN INSERT (id, value) VALUES (1)",
     "arity differ"),
    ("MERGE INTO t USING s ON t.id > s.id WHEN MATCHED THEN DELETE",
     "unsupported ON term"),
    ("MERGE INTO t USING s ON t.id = s.id", "at least one WHEN"),
    ("MERGE INTO t USING s ON t.id = s.id "
     "WHEN MATCHED AND t.value > 0 THEN UPDATE SET *", "source columns"),
    ("MERGE INTO t USING s ON t.id = s.id "
     "WHEN MATCHED THEN DELETE "
     "WHEN MATCHED AND s.value > 0 THEN UPDATE SET *",
     "only the last WHEN MATCHED clause may omit"),
])
def test_merge_rejects_unsupported(stmt, msg, spark):
    with pytest.raises(ValueError, match=msg):
        merge_into(spark, stmt)


def test_parse_on_strips_qualifiers(warehouse, spark):
    """ON keys are the column names with any alias qualifier dropped,
    an unqualified side included."""
    cat = warehouse
    _mk(cat, spark, name="s1.tonq")
    spark.createDataFrame([(1, 10, 111), (1, 99, 999)],
                          "id long, key long, value long") \
        .createOrReplaceTempView("m_src_onq")
    merge_into(spark, """
        MERGE INTO s1.tonq AS t USING m_src_onq AS s
        ON t.id = s.id AND key = s.key
        WHEN MATCHED THEN UPDATE SET *
    """, catalog=cat)
    assert _state(cat.load_table("s1.tonq"), spark) == [
        (1, 10, 111), (2, 20, 200), (3, 30, 300)]


def test_merge_multiple_when_matched_first_match_wins(warehouse, spark):
    """Ordered WHEN MATCHED clauses: each matched row takes the FIRST
    clause whose condition holds (Spark semantics); unmatched-by-any-
    clause rows stay untouched."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, 10), (2, 20), (3, 30), (4, 40)], "id long, value long")
    t = cat.create_table("s1.tmulti", Schema.from_spark(df.schema))
    t.append(df)
    src = spark.createDataFrame(
        [(1, -1), (2, 999), (3, 5), (9, 90)], "id long, value long")
    src.createOrReplaceTempView("m_src_multi")
    merge_into(spark, """
        MERGE INTO s1.tmulti AS t USING m_src_multi AS s
        ON t.id = s.id
        WHEN MATCHED AND s.value < 0 THEN DELETE
        WHEN MATCHED AND s.value > 100 THEN UPDATE SET *
        WHEN NOT MATCHED THEN INSERT *
    """, catalog=cat)
    # id=1 deleted (value<0); id=2 updated (999>100); id=3 matched but no
    # clause applies -> untouched; id=4 not in source -> untouched;
    # id=9 inserted
    assert _state(cat.load_table("s1.tmulti"), spark) == \
        [(2, 999), (3, 30), (4, 40), (9, 90)]


def test_merge_multiple_when_matched_unconditional_last(warehouse, spark):
    cat = warehouse
    df = spark.createDataFrame([(1, 10), (2, 20)], "id long, value long")
    t = cat.create_table("s1.tmulti2", Schema.from_spark(df.schema))
    t.append(df)
    src = spark.createDataFrame([(1, -1), (2, 7)], "id long, value long")
    src.createOrReplaceTempView("m_src_multi2")
    merge_into(spark, """
        MERGE INTO s1.tmulti2 AS t USING m_src_multi2 AS s
        ON t.id = s.id
        WHEN MATCHED AND s.value < 0 THEN DELETE
        WHEN MATCHED THEN UPDATE SET *
    """, catalog=cat)
    assert _state(cat.load_table("s1.tmulti2"), spark) == [(2, 7)]


def test_sql_delete_from(warehouse, spark):
    from icelake_spark.sql import execute

    df = spark.range(100).selectExpr("id", "id % 4 as g")
    t = warehouse.create_table("s1.d1", Schema.from_spark(df.schema))
    t.append(df)
    execute(spark, "DELETE FROM s1.d1 WHERE g = 0", catalog=warehouse)
    back = warehouse.load_table("s1.d1").to_df(spark)
    assert back.count() == 75 and back.where("g = 0").count() == 0

    # bare DELETE truncates in one commit
    execute(spark, "DELETE FROM s1.d1", catalog=warehouse)
    t2 = warehouse.load_table("s1.d1")
    assert t2.to_df(spark).count() == 0
    assert t2.current_snapshot().summary["operation"] == "delete"


def test_sql_update_set(warehouse, spark):
    from icelake_spark.sql import execute

    df = spark.range(50).selectExpr("id", "cast(id as double) as v",
                                    "cast(id as string) as s")
    t = warehouse.create_table("s1.u1", Schema.from_spark(df.schema))
    t.append(df)
    # multi-assignment with a function call containing commas, old-row
    # semantics (v reads the pre-update value in both expressions)
    execute(spark,
            "UPDATE s1.u1 SET v = v * 2, s = concat(s, '!') WHERE id < 10",
            catalog=warehouse)
    rows = {r.id: r for r in warehouse.load_table("s1.u1")
            .to_df(spark).collect()}
    assert rows[3].v == 6.0 and rows[3].s == "3!"
    assert rows[20].v == 20.0 and rows[20].s == "20"

    # no WHERE updates everything
    execute(spark, "UPDATE s1.u1 SET v = 0", catalog=warehouse)
    assert warehouse.load_table("s1.u1").to_df(spark) \
        .where("v != 0").count() == 0


def test_sql_dml_rejects_unsupported(spark):
    from icelake_spark.sql import execute

    with pytest.raises(ValueError, match="unsupported statement"):
        execute(spark, "TRUNCATE TABLE t")
    with pytest.raises(ValueError, match="needs VALUES or SELECT"):
        execute(spark, "INSERT INTO t OVERWRITE x")
    with pytest.raises(ValueError, match="unsupported UPDATE"):
        execute(spark, "UPDATE t")
    with pytest.raises(ValueError, match="duplicate SET column"):
        execute(spark, "UPDATE t SET a = 1, a = 2")


def test_sql_alter_table(warehouse, spark):
    from icelake_spark.sql import execute

    df = spark.range(20).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("s1.alt", Schema.from_spark(df.schema))
    t.append(df)

    execute(spark, "ALTER TABLE s1.alt ADD COLUMN score double",
            catalog=warehouse)
    execute(spark, "ALTER TABLE s1.alt RENAME COLUMN s TO label",
            catalog=warehouse)
    execute(spark,
            "ALTER TABLE s1.alt SET TBLPROPERTIES ('a.b' = 'x', 'c' = '2')",
            catalog=warehouse)
    t2 = warehouse.load_table("s1.alt")
    assert [f.name for f in t2.schema().fields] == ["id", "label", "score"]
    assert t2.metadata.properties["a.b"] == "x"
    assert t2.metadata.properties["c"] == "2"
    # old files read through the rename; the new column pads null
    row = t2.to_df(spark).where("id = 3").collect()[0]
    assert row.label == "3" and row.score is None

    execute(spark, "ALTER TABLE s1.alt DROP COLUMN score", catalog=warehouse)
    assert [f.name for f in warehouse.load_table("s1.alt").schema().fields] \
        == ["id", "label"]

    with pytest.raises(ValueError, match="unsupported ALTER"):
        execute(spark, "ALTER TABLE s1.alt CLUSTER BY (id)",
                catalog=warehouse)
    with pytest.raises(ValueError, match="unsupported column type"):
        execute(spark, "ALTER TABLE s1.alt ADD COLUMN x geometry",
                catalog=warehouse)


def test_sql_update_where_inside_string_literal(warehouse, spark):
    """SET expressions may contain the word WHERE inside a string
    literal; the top-level splitter must not cut there (review fix)."""
    from icelake_spark.sql import execute

    df = spark.range(5).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("s1.uq", Schema.from_spark(df.schema))
    t.append(df)
    execute(spark, "UPDATE s1.uq SET s = 'a WHERE b' WHERE id = 1",
            catalog=warehouse)
    rows = {r.id: r.s for r in warehouse.load_table("s1.uq")
            .to_df(spark).collect()}
    assert rows[1] == "a WHERE b" and rows[2] == "2"
    # and without any WHERE at all
    execute(spark, "UPDATE s1.uq SET s = 'x WHERE y'", catalog=warehouse)
    assert set({r.s for r in warehouse.load_table("s1.uq")
                .to_df(spark).collect()}) == {"x WHERE y"}


def test_sql_alter_partition_spec(warehouse, spark):
    from icelake_spark.sql import execute

    df = spark.range(100).selectExpr(
        "id", "date_add(date'2024-01-01', cast(id % 90 as int)) as d")
    t = warehouse.create_table("s1.pspec", Schema.from_spark(df.schema))
    t.append(df)
    execute(spark, "ALTER TABLE s1.pspec SET PARTITION SPEC "
            "(month(d), bucket[4](id))", catalog=warehouse)
    t2 = warehouse.load_table("s1.pspec")
    spec = t2.metadata.default_spec()
    assert [(f.transform, f.name) for f in spec.fields] == \
        [("month", "d_month"), ("bucket[4]", "id_bucket")]
    # new writes use the new layout; the whole table still reads
    t2.append(df.selectExpr("id + 1000 as id", "d"))
    assert warehouse.load_table("s1.pspec").to_df(spark).count() == 200


def test_sql_alter_partition_spec_standard_spelling(warehouse, spark):
    """The standard Spark/Iceberg bucket(8, col) / truncate(4, col)
    spellings are accepted alongside bucket[8](col) (review fix: bare
    comma split shredded them)."""
    from icelake_spark.sql import execute

    df = spark.range(10).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("s1.pspec2", Schema.from_spark(df.schema))
    execute(spark, "ALTER TABLE s1.pspec2 SET PARTITION SPEC "
            "(bucket(8, id), truncate(2, s))", catalog=warehouse)
    spec = warehouse.load_table("s1.pspec2").metadata.default_spec()
    assert [f.transform for f in spec.fields] == ["bucket[8]", "truncate[2]"]


def test_merge_column_level_update_set(warehouse, spark):
    """UPDATE SET col = expr: unset columns keep the TARGET row's old
    value; expressions may reference both sides via the aliases."""
    cat = warehouse
    _mk(cat, spark)  # (1,10,100) (2,20,200) (3,30,300)
    src = spark.createDataFrame(
        [(2, 5, 7), (3, 1, 1)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_cols")
    merge_into(spark, """
        MERGE INTO s1.t1 AS t USING m_src_cols AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET value = t.value + s.value
    """, catalog=cat)
    # key column untouched (keeps target's old value); value = old + src
    assert _state(cat.load_table("s1.t1"), spark) == [
        (1, 10, 100), (2, 20, 207), (3, 30, 301)]


def test_merge_column_level_insert_cols(warehouse, spark):
    """INSERT (cols) VALUES (exprs): unmentioned columns insert NULL."""
    cat = warehouse
    _mk(cat, spark)
    src = spark.createDataFrame(
        [(7, 70, 700)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_icols")
    merge_into(spark, """
        MERGE INTO s1.t1 AS t USING m_src_icols AS s
        ON t.id = s.id
        WHEN NOT MATCHED THEN INSERT (id, value) VALUES (s.id, s.value * 2)
    """, catalog=cat)
    assert _state(cat.load_table("s1.t1"), spark) == [
        (1, 10, 100), (2, 20, 200), (3, 30, 300), (7, None, 1400)]


def test_merge_column_level_multi_clause_mixed(warehouse, spark):
    """Ordered clauses mixing column-level SET, DELETE, and whole-row
    UPDATE SET *, with conditions referencing both sides."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, 10, "a"), (2, 20, "b"), (3, 30, "c"), (4, 40, "d")],
        "id long, v long, tag string")
    t = cat.create_table("s1.tcols", Schema.from_spark(df.schema))
    t.append(df)
    src = spark.createDataFrame(
        [(1, -5, "x"), (2, 100, "y"), (3, 1, "z"), (9, 9, "n")],
        "id long, v long, tag string")
    src.createOrReplaceTempView("m_src_mixed")
    merge_into(spark, """
        MERGE INTO s1.tcols AS t USING m_src_mixed AS s
        ON t.id = s.id
        WHEN MATCHED AND s.v < 0 THEN DELETE
        WHEN MATCHED AND s.v > t.v THEN UPDATE SET *
        WHEN MATCHED THEN UPDATE SET v = t.v + s.v, tag = concat(t.tag, s.tag)
        WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)
    """, catalog=cat)
    # id=1 deleted; id=2 whole-row replaced (100>20); id=3 column-level
    # (v=31, tag=cz); id=4 untouched; id=9 inserted with NULL tag
    assert _state(cat.load_table("s1.tcols"), spark) == [
        (2, 100, "y"), (3, 31, "cz"), (4, 40, "d"), (9, 9, None)]


def test_merge_column_level_rejects_key_set(warehouse, spark):
    cat = warehouse
    _mk(cat, spark, name="s1.tks")
    src = spark.createDataFrame([(1, 2, 3)], "id long, key long, value long")
    with pytest.raises(ValueError, match="merge key"):
        merge_into(spark, """
            MERGE INTO s1.tks AS t USING x AS s
            ON t.id = s.id
            WHEN MATCHED THEN UPDATE SET id = s.id + 1
        """, catalog=cat, source_df=src)


def test_merge_set_expr_with_commas_and_when(warehouse, spark):
    """SET expressions containing commas inside calls and the word WHEN
    inside a CASE must parse (quote/paren-aware clause splitting)."""
    cat = warehouse
    _mk(cat, spark, name="s1.tcase")
    src = spark.createDataFrame(
        [(2, 99, 0)], "id long, key long, value long")
    src.createOrReplaceTempView("m_src_case")
    merge_into(spark, """
        MERGE INTO s1.tcase AS t USING m_src_case AS s
        ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET
            value = CASE WHEN t.value > 300 THEN t.value ELSE coalesce(s.value, 1) END,
            key = greatest(t.key, s.key, 15)
    """, catalog=cat)
    # t.value=200 not > 300 -> coalesce(0, 1)=0; greatest(20, 99, 15)=99
    assert _state(cat.load_table("s1.tcase"), spark) == [
        (1, 10, 100), (2, 99, 0), (3, 30, 300)]


def test_sql_create_table_and_insert(warehouse, spark):
    """CREATE TABLE ... USING iceberg + INSERT INTO VALUES/SELECT purely
    through sql.execute (the statements the reference's integration
    harness issues first, testdata/docker/spark-script/init-table.sql)."""
    from icelake_spark.sql import execute

    execute(spark, """
        CREATE TABLE s1.ct (
            id bigint NOT NULL,
            name string,
            score decimal(10, 2),
            d date
        ) USING iceberg
        PARTITIONED BY (bucket(8, id), month(d))
        TBLPROPERTIES ('write.format.default' = 'parquet', 'owner' = 'me')
    """, catalog=warehouse)
    t = warehouse.load_table("s1.ct")
    assert [f.name for f in t.schema().fields] == ["id", "name", "score", "d"]
    spec = t.metadata.default_spec()
    assert [f.transform for f in spec.fields] == ["bucket[8]", "month"]
    assert t.metadata.properties["owner"] == "me"

    execute(spark, """
        INSERT INTO s1.ct VALUES
            (1, 'a', 1.50, date'2024-01-05'),
            (2, 'b', 2.25, date'2024-02-10')
    """, catalog=warehouse)
    execute(spark, "INSERT INTO s1.ct (id, name) VALUES (3, 'c')",
            catalog=warehouse)
    rows = sorted((r.id, r.name, str(r.score), str(r.d)) for r in
                  warehouse.load_table("s1.ct").to_df(spark).collect())
    assert rows == [(1, 'a', '1.50', '2024-01-05'),
                    (2, 'b', '2.25', '2024-02-10'),
                    (3, 'c', 'None', 'None')]

    # INSERT ... SELECT through full Catalyst
    spark.range(5).selectExpr("id + 10 as id", "concat('r', id) as name",
                              "cast(id as decimal(10,2)) as score",
                              "date'2024-03-01' as d") \
        .createOrReplaceTempView("ins_src")
    execute(spark, "INSERT INTO s1.ct SELECT * FROM ins_src WHERE id < 13",
            catalog=warehouse)
    assert warehouse.load_table("s1.ct").to_df(spark).count() == 6

    # IF NOT EXISTS: second create is a no-op load; bare CREATE raises
    execute(spark, "CREATE TABLE IF NOT EXISTS s1.ct (id bigint) USING iceberg",
            catalog=warehouse)
    assert len(warehouse.load_table("s1.ct").schema().fields) == 4
    with pytest.raises(FileExistsError):
        execute(spark, "CREATE TABLE s1.ct (id bigint) USING iceberg",
                catalog=warehouse)
    with pytest.raises(ValueError, match="unsupported USING"):
        execute(spark, "CREATE TABLE s1.other (id bigint) USING delta",
                catalog=warehouse)
    with pytest.raises(ValueError, match="requires a catalog"):
        execute(spark, "CREATE TABLE t (id bigint) USING iceberg")


def test_sql_call_procedures(warehouse, spark):
    """CALL system.<proc> — the maintenance statements the reference's
    harness drives through Spark (insert_compact_test.rs:198-211)."""
    from icelake_spark.sql import execute

    df = spark.range(200).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("s1.callp", Schema.from_spark(df.schema))
    for lo in range(0, 200, 50):
        t.append(df.where(f"id >= {lo} and id < {lo + 50}"))
        t = t.refresh()
    n_snaps = len(t.metadata.snapshots)
    assert n_snaps == 4
    first = t.metadata.snapshots[0].snapshot_id

    # compaction: one replace snapshot, table still reads whole
    n = execute(spark, "CALL system.rewrite_data_files('s1.callp')",
                catalog=warehouse)
    assert isinstance(n, int) and n >= 1
    t = warehouse.load_table("s1.callp")
    assert t.current_snapshot().summary["operation"] == "replace"
    assert t.to_df(spark).count() == 200

    # rollback via CALL (named arg spelling)
    execute(spark, f"CALL system.rollback_to_snapshot("
                   f"table => 's1.callp', snapshot_id => {first})",
            catalog=warehouse)
    t = warehouse.load_table("s1.callp")
    assert t.current_snapshot().snapshot_id == first
    assert t.to_df(spark).count() == 50

    # rewrite_manifests + expire + orphan cleanup run through CALL
    execute(spark, "CALL system.rewrite_manifests('s1.callp')",
            catalog=warehouse)
    expired = execute(spark, "CALL system.expire_snapshots("
                             "table => 's1.callp', older_than_ms => "
                             f"{10**18}, retain_last => 1)",
                      catalog=warehouse)
    assert expired >= 1
    # expire already deleted unreachable files; orphan scan still runs
    removed = execute(spark, "CALL system.remove_orphan_files("
                             f"'s1.callp', {10**18})", catalog=warehouse)
    assert isinstance(removed, int) and removed >= 0
    t = warehouse.load_table("s1.callp")
    assert t.to_df(spark).count() == 50

    with pytest.raises(ValueError, match="unknown procedure"):
        execute(spark, "CALL system.bogus('s1.callp')", catalog=warehouse)
    with pytest.raises(ValueError, match="unsupported arguments"):
        execute(spark, "CALL system.rewrite_manifests('s1.callp', 3)",
                catalog=warehouse)


def test_sql_insert_overwrite(warehouse, spark):
    """INSERT OVERWRITE replaces the table's content in one commit."""
    from icelake_spark.sql import execute

    df = spark.range(20).selectExpr("id", "cast(id as string) as s")
    t = warehouse.create_table("s1.iow", Schema.from_spark(df.schema))
    t.append(df)
    execute(spark, "INSERT OVERWRITE s1.iow "
                   "SELECT id + 100, concat('n', id) FROM range(5)",
            catalog=warehouse)
    t2 = warehouse.load_table("s1.iow")
    rows = sorted((r.id, r.s) for r in t2.to_df(spark).collect())
    assert rows == [(100 + i, f"n{i}") for i in range(5)]
    assert t2.current_snapshot().summary["operation"] == "overwrite"
    # one commit for the whole overwrite; history intact for time travel
    prev = t2.metadata.snapshots[-2]
    assert t2.to_df(spark, snapshot_id=prev.snapshot_id).count() == 20


def test_sql_branch_tag_ddl(warehouse, spark):
    """ALTER TABLE ... CREATE BRANCH/TAG [AS OF VERSION n] and DROP
    BRANCH/TAG over the refs API; branch reads resolve via ref=."""
    from icelake_spark.sql import execute

    df = spark.range(10).selectExpr("id")
    t = warehouse.create_table("s1.refs", Schema.from_spark(df.schema))
    t.append(df)
    t = t.refresh()
    first = t.current_snapshot().snapshot_id
    t.append(spark.range(10, 15).selectExpr("id"))

    execute(spark, f"ALTER TABLE s1.refs CREATE TAG v1 AS OF VERSION {first}",
            catalog=warehouse)
    execute(spark, "ALTER TABLE s1.refs CREATE BRANCH dev",
            catalog=warehouse)
    t2 = warehouse.load_table("s1.refs")
    assert t2.metadata.refs["v1"].snapshot_id == first
    assert t2.to_df(spark, ref="v1").count() == 10
    assert t2.to_df(spark, ref="dev").count() == 15

    execute(spark, "ALTER TABLE s1.refs DROP TAG v1", catalog=warehouse)
    assert "v1" not in warehouse.load_table("s1.refs").metadata.refs
    with pytest.raises(ValueError, match="main"):
        execute(spark, "ALTER TABLE s1.refs DROP BRANCH main",
                catalog=warehouse)


def test_sql_show_describe(warehouse, spark):
    from icelake_spark.sql import execute

    execute(spark, """
        CREATE TABLE s1.meta (id bigint, d date) USING iceberg
        PARTITIONED BY (month(d)) TBLPROPERTIES ('owner' = 'me')
    """, catalog=warehouse)
    tables = {(r.namespace, r.tableName)
              for r in execute(spark, "SHOW TABLES",
                               catalog=warehouse).collect()}
    assert ("s1", "meta") in tables

    props = {r.key: r.value
             for r in execute(spark, "SHOW TBLPROPERTIES s1.meta",
                              catalog=warehouse).collect()}
    assert props["owner"] == "me"

    desc = execute(spark, "DESCRIBE s1.meta", catalog=warehouse).collect()
    by_name = {r.col_name: r.data_type for r in desc}
    assert by_name["id"] == "bigint" and by_name["d"] == "date"
    assert by_name["d_month"] == "month"  # partition section

    ext = execute(spark, "DESC EXTENDED s1.meta", catalog=warehouse).collect()
    names = [r.col_name for r in ext]
    assert "Location" in names and "Format-version" in names


def test_sql_insert_duplicate_column_rejected(warehouse, spark):
    from icelake_spark.sql import execute

    df = spark.range(3).selectExpr("id", "cast(id as string) as s")
    warehouse.create_table("s1.dupins", Schema.from_spark(df.schema))
    with pytest.raises(ValueError, match="duplicate INSERT column"):
        execute(spark, "INSERT INTO s1.dupins (id, id) VALUES (1, 2)",
                catalog=warehouse)


def test_merge_not_matched_by_source_full_sync(warehouse, spark):
    """The classic source-of-truth sync: update matched, insert new,
    delete/flag target rows the source no longer carries (Spark 3.4 /
    Iceberg WHEN NOT MATCHED BY SOURCE)."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, "live", 10), (2, "live", 20), (3, "stale", 30)],
        "id long, status string, v long")
    t = cat.create_table("s1.bs1", Schema.from_spark(df.schema))
    t.append(df)
    spark.createDataFrame([(1, 100), (9, 900)], "id long, v long") \
        .createOrReplaceTempView("bs_src")
    merge_into(spark, """
        MERGE INTO s1.bs1 t USING bs_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v
        WHEN NOT MATCHED THEN INSERT (id, status, v)
            VALUES (s.id, 'live', s.v)
        WHEN NOT MATCHED BY SOURCE AND t.status = 'stale' THEN DELETE
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET status = 'orphan'
    """, catalog=cat)
    assert _state(cat.load_table("s1.bs1"), spark) == [
        (1, "live", 100), (2, "orphan", 20), (9, "live", 900)]


def test_merge_by_source_only_delete(warehouse, spark):
    """BY SOURCE as the only clause (prune-to-source), bare aliases
    without AS."""
    cat = warehouse
    _mk(cat, spark, "s1.bs2")
    spark.createDataFrame([(1,), (3,)], "id long") \
        .createOrReplaceTempView("bs_src2")
    merge_into(spark,
               "MERGE INTO s1.bs2 t USING bs_src2 s ON t.id = s.id "
               "WHEN NOT MATCHED BY SOURCE THEN DELETE", catalog=cat)
    assert _state(cat.load_table("s1.bs2"), spark) == [
        (1, 10, 100), (3, 30, 300)]


def test_merge_by_source_key_set_refused(warehouse, spark):
    cat = warehouse
    _mk(cat, spark, "s1.bs3")
    spark.createDataFrame([(1,)], "id long") \
        .createOrReplaceTempView("bs_src3")
    with pytest.raises(ValueError, match="merge key"):
        merge_into(spark,
                   "MERGE INTO s1.bs3 t USING bs_src3 s ON t.id = s.id "
                   "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET id = 0",
                   catalog=cat)


def test_merge_by_source_source_refs_validated(warehouse, spark):
    """ADVICE r7: BY SOURCE validation must use the ACTUAL source /
    target column sets — qualified `s.col` refs, but also UNQUALIFIED
    references to source-only columns (the old textual check missed
    those)."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, "live", 10), (2, "live", 20)], "id long, status string, v long")
    t = cat.create_table("s1.bsv", Schema.from_spark(df.schema))
    t.append(df)
    spark.createDataFrame([(1, 5, 99)], "id long, v long, extra long") \
        .createOrReplaceTempView("bsv_src")
    for stmt in (
        # qualified source ref in condition
        "MERGE INTO s1.bsv t USING bsv_src s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND s.v > 0 THEN DELETE",
        # unqualified source-only column in condition
        "MERGE INTO s1.bsv t USING bsv_src s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND extra > 0 THEN DELETE",
        # unqualified source-only column in a SET expression
        "MERGE INTO s1.bsv t USING bsv_src s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = extra + 1",
    ):
        with pytest.raises(ValueError, match="target columns"):
            merge_into(spark, stmt, catalog=cat)
    # bare refs to SHARED columns resolve against the target: fine
    merge_into(spark,
               "MERGE INTO s1.bsv t USING bsv_src s ON t.id = s.id "
               "WHEN NOT MATCHED BY SOURCE AND v > 15 "
               "THEN UPDATE SET status = 'orphan'", catalog=cat)
    assert _state(cat.load_table("s1.bsv"), spark) == [
        (1, "live", 10), (2, "orphan", 20)]


def test_merge_by_source_target_struct_named_s(warehouse, spark):
    """A target STRUCT column literally named `s` must stay usable in
    BY SOURCE SET expressions (`s.field` is a struct deref of the
    target, not a source reference) — the old `\\bs\\.` textual check
    false-rejected it (ADVICE r7). Also guards literal text: a string
    containing 's.' must never trip validation."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, (7,), 0), (2, (9,), 0)],
        "id long, s struct<field: long>, x long")
    t = cat.create_table("s1.bstruct", Schema.from_spark(df.schema))
    t.append(df)
    spark.createDataFrame([(1,)], "id long") \
        .createOrReplaceTempView("bstruct_src")
    merge_into(spark,
               "MERGE INTO s1.bstruct t USING bstruct_src s ON t.id = s.id "
               "WHEN NOT MATCHED BY SOURCE AND t.x != 99 "
               "THEN UPDATE SET x = s.field", catalog=cat)
    rows = sorted((r.id, r.s.field, r.x) for r in
                  cat.load_table("s1.bstruct").to_df(spark).collect())
    assert rows == [(1, 7, 0), (2, 9, 9)]
    # string literal containing "s." text is NOT a source ref
    merge_into(spark,
               "MERGE INTO s1.bstruct t USING bstruct_src s ON t.id = s.id "
               "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET x = "
               "CASE WHEN 's.v marker' = 's.v marker' THEN 42 ELSE x END",
               catalog=cat)
    rows = sorted((r.id, r.x) for r in
                  cat.load_table("s1.bstruct").to_df(spark).collect())
    assert rows == [(1, 0), (2, 42)]


def test_merge_by_source_struct_alias_not_s(warehouse, spark):
    """The target-struct-deref exemption must hold for ANY source
    alias that collides with a target column, not just the literal
    's' — requalifying `src.field` to `s.field` would point it at the
    absent source side (code-review r8)."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, (7,), 0), (2, (9,), 0)],
        "id long, src struct<field: long>, x long")
    t = cat.create_table("s1.bstruct2", Schema.from_spark(df.schema))
    t.append(df)
    spark.createDataFrame([(1,)], "id long") \
        .createOrReplaceTempView("bstruct2_src")
    merge_into(spark,
               "MERGE INTO s1.bstruct2 t USING bstruct2_src src "
               "ON t.id = src.id "
               "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET x = src.field",
               catalog=cat)
    rows = sorted((r.id, r.src.field, r.x) for r in
                  cat.load_table("s1.bstruct2").to_df(spark).collect())
    assert rows == [(1, 7, 0), (2, 9, 9)]


def test_merge_by_source_dotted_source_struct_rejected(warehouse, spark):
    """A dotted deref of a SOURCE-ONLY struct column must hit the
    clean 'target columns' ValueError, not a late AnalysisException
    (code-review r8); alias comparisons are case-insensitive."""
    cat = warehouse
    _mk(cat, spark, "s1.bsv2")
    spark.createDataFrame([(1, (5,))],
                          "id long, extra struct<field: long>") \
        .createOrReplaceTempView("bsv2_src")
    for stmt in (
        "MERGE INTO s1.bsv2 t USING bsv2_src s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND extra.field > 0 THEN DELETE",
        "MERGE INTO s1.bsv2 t USING bsv2_src s ON t.id = s.id "
        "WHEN NOT MATCHED BY SOURCE AND S.value > 0 THEN DELETE",
    ):
        with pytest.raises(ValueError, match="target columns"):
            merge_into(spark, stmt, catalog=cat)


def test_merge_whole_row_condition_literals_safe(warehouse, spark):
    """Whole-row WHEN MATCHED conditions must treat string literals as
    opaque: alias text inside a literal is neither rewritten nor
    rejected (code-review r8)."""
    cat = warehouse
    df = spark.createDataFrame(
        [(1, "rev s. 4", 10), (2, "other", 20)],
        "id long, note string, v long")
    t = cat.create_table("s1.wrlit", Schema.from_spark(df.schema))
    t.append(df)
    spark.createDataFrame(
        [(1, "rev s. 4", 99), (2, "see tgt.notes", 99)],
        "id long, note string, v long").createOrReplaceTempView("wrlit_src")
    # the salias strip must not mangle 'rev s. 4' into 'rev  4'
    merge_into(spark, """
        MERGE INTO s1.wrlit AS tgt USING wrlit_src AS s ON tgt.id = s.id
        WHEN MATCHED AND s.note = 'rev s. 4' THEN DELETE
    """, catalog=cat)
    assert _state(cat.load_table("s1.wrlit"), spark) == [(2, "other", 20)]
    # target-alias text inside a literal must not false-reject
    merge_into(spark, """
        MERGE INTO s1.wrlit AS tgt USING wrlit_src AS s ON tgt.id = s.id
        WHEN MATCHED AND s.note = 'see tgt.notes' THEN DELETE
    """, catalog=cat)
    assert _state(cat.load_table("s1.wrlit"), spark) == []


def test_merge_null_key_insert_keeps_target_null_row(warehouse, spark):
    """SQL MERGE semantics: a NULL join key never matches (NULL !=
    NULL), so a source NULL-key row inserts via WHEN NOT MATCHED and
    the target's existing NULL-key row is KEPT. Previously the insert
    emitted an equality-delete with a NULL key, and the read path's
    null-safe anti-join silently deleted the target row
    (code-review r9)."""
    from icelake_spark.delta import merge, upsert

    cat = warehouse
    df = spark.createDataFrame([(1, "a"), (None, "tgt-null")],
                               "id long, v string")
    t = cat.create_table("s1.nullkey", Schema.from_spark(df.schema))
    t.append(df)
    src = spark.createDataFrame([(None, "src-null"), (1, "a2")],
                                "id long, v string")
    merge(t, spark, src, on=["id"],
          when_matched="update", when_not_matched="insert")
    t = t.refresh()
    got = sorted(((r.id, r.v) for r in t.to_df(spark).collect()),
                 key=lambda x: (x[0] is None, x))
    assert (1, "a2") in got and (None, "tgt-null") in got \
        and (None, "src-null") in got, got
    assert len(got) == 3, got

    # upsert (OP_INSERT) keeps full null-safe replacement semantics —
    # the rollup refresh's NULL group keys rely on it
    upsert(t, spark.createDataFrame([(None, "up-null")],
                                    "id long, v string"), key_cols=["id"])
    t = t.refresh()
    vals = sorted(r.v for r in t.to_df(spark).where("id is null").collect())
    assert vals == ["up-null"], vals
    # an explicit CDC DELETE of the NULL key reaches it too
    from icelake_spark.delta import OP_DELETE, merge_delta
    merge_delta(t, spark.createDataFrame([(None, "x", OP_DELETE)],
                                         "id long, v string, _op int"),
                key_cols=["id"])
    t = t.refresh()
    assert t.to_df(spark).where("id is null").count() == 0


def test_merge_cardinality_errors(warehouse, spark):
    """SQL MERGE cardinality contract: multiple source rows matching
    one target key raise (Spark raises the same); duplicate-key target
    rows matched by a source row raise instead of being silently
    collapsed to one row by the equality-delete lowering
    (code-review r9). Unmatched duplicates stay legal."""
    from icelake_spark.delta import merge

    cat = warehouse
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    t = cat.create_table("s1.card", Schema.from_spark(df.schema))
    t.append(df)

    dup_src = spark.createDataFrame([(1, "x"), (1, "y")],
                                    "id long, v string")
    with pytest.raises(ValueError, match="multiple source rows"):
        merge(t, spark, dup_src, on=["id"], when_matched="update",
              when_not_matched="insert")

    # duplicate-key SOURCE rows that match NO target key insert ALL
    # rows — Spark SQL MERGE's NOT MATCHED lane has no cardinality
    # constraint (review r12: the delta writer's last-wins window
    # silently collapsed them to one)
    ok_src = spark.createDataFrame([(9, "x"), (9, "y")],
                                   "id long, v string")
    merge(t, spark, ok_src, on=["id"], when_matched="update",
          when_not_matched="insert")
    t = t.refresh()
    assert t.to_df(spark).where("id = 9").count() == 2

    # duplicate-key TARGET rows hit by a matched clause refuse loudly
    t.append(spark.createDataFrame([(2, "b2")], "id long, v string"))
    t = t.refresh()
    with pytest.raises(ValueError, match="multiple rows for a matched"):
        merge(t, spark, spark.createDataFrame([(2, "new")],
                                              "id long, v string"),
              on=["id"], when_matched="update", when_not_matched="insert")
    # column-level lowering enforces the same contract
    with pytest.raises(ValueError, match="multiple rows for a matched"):
        merge(t, spark, spark.createDataFrame([(2, "new")],
                                              "id long, v string"),
              on=["id"],
              matched_clauses=[("update", None, {"v": "s.v"})],
              when_not_matched=None)
