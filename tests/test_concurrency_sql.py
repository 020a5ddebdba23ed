"""Optimistic-commit retry under concurrent writers; SQL view access;
property-based kernel tests (hypothesis)."""

import datetime as dt
from decimal import Decimal

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from icelake_spark.types import Schema


def test_concurrent_appends_retry(spark, warehouse):
    src = spark.range(10).select("id")
    t = warehouse.create_table("db.cc", Schema.from_spark(src.schema))
    t.append(src)
    # two handles at the same base version; both append — second must
    # rebase via retry instead of failing
    t1 = warehouse.load_table("db.cc")
    t2 = warehouse.load_table("db.cc")
    t1.append(src)
    t2.append(src)  # conflict → refresh → retry
    t.refresh()
    assert t.to_df(spark).count() == 30
    assert len(t.metadata.snapshots) == 3
    # both appended snapshots present, linear history
    seqs = sorted(s.sequence_number for s in t.metadata.snapshots)
    assert seqs == [1, 2, 3]


def test_rewrite_conflict_not_retried(spark, warehouse):
    from icelake_spark.catalog.storage import CommitConflict
    from icelake_spark.maintenance import rewrite_data_files

    src = spark.range(10).select("id")
    t = warehouse.create_table("db.cc2", Schema.from_spark(src.schema))
    t.append(src)
    stale = warehouse.load_table("db.cc2")
    t.append(src)
    with pytest.raises(CommitConflict):
        rewrite_data_files(stale, spark)


def test_sql_over_table(spark, warehouse, wide_df):
    t = warehouse.create_table("db.sqlv", Schema.from_spark(wide_df.schema))
    t.append(wide_df)
    out = t.sql(spark, "SELECT count(*) AS n, sum(v_int) AS s FROM t").collect()
    assert out[0].n == 5 and out[0].s == 15
    s1 = t.current_snapshot().snapshot_id
    t.append(wide_df)
    old = t.sql(spark, "SELECT count(*) AS n FROM t_old", view_name="t_old",
                snapshot_id=s1).collect()
    assert old[0].n == 5


# ------------------------------------------------------- property-based


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_prop_bucket_range_and_determinism(v):
    from icelake_spark.types import INT, apply_transform_py

    b = apply_transform_py("bucket[16]", v, INT)
    assert 0 <= b < 16
    assert b == apply_transform_py("bucket[16]", v, INT)


@settings(max_examples=200, deadline=None)
@given(st.integers(min_value=-(2**40), max_value=2**40),
       st.integers(min_value=1, max_value=1000))
def test_prop_truncate_floor(v, w):
    from icelake_spark.types import LONG, apply_transform_py

    t = apply_transform_py(f"truncate[{w}]", v, LONG)
    assert t <= v < t + w
    assert t % w == 0


@settings(max_examples=100, deadline=None)
@given(st.dates(min_value=dt.date(1, 1, 1), max_value=dt.date(9999, 1, 1)))
def test_prop_temporal_consistency(d):
    from icelake_spark.types import DATE, apply_transform_py

    y = apply_transform_py("year", d, DATE)
    m = apply_transform_py("month", d, DATE)
    day = apply_transform_py("day", d, DATE)
    assert y == d.year - 1970
    assert m == (d.year - 1970) * 12 + d.month - 1
    assert dt.date(1970, 1, 1) + dt.timedelta(days=day) == d


@settings(max_examples=200, deadline=None)
@given(st.one_of(
    st.tuples(st.just("long"), st.integers(-(2**62), 2**62)),
    st.tuples(st.just("string"), st.text(max_size=40)),
    st.tuples(st.just("double"), st.floats(allow_nan=False, allow_infinity=False)),
    st.tuples(st.just("date"), st.dates(dt.date(1, 1, 1), dt.date(9999, 1, 1))),
    st.tuples(st.just("decimal"),
              st.decimals(min_value=Decimal("-1e18"), max_value=Decimal("1e18"),
                          places=3)),
))
def test_prop_bound_roundtrip(tv):
    from icelake_spark.types import (DATE, DOUBLE, LONG, STRING, decimal_type,
                                     decode_bound, encode_bound)

    kind, v = tv
    t = {"long": LONG, "string": STRING, "double": DOUBLE, "date": DATE,
         "decimal": decimal_type(22, 3)}[kind]
    assert decode_bound(t, encode_bound(t, v)) == v


def test_identifier_fields_default_upsert_keys(spark, warehouse):
    from icelake_spark.delta import upsert

    src = spark.createDataFrame([(1, 10), (2, 20)], "k long, v long")
    schema = Schema.from_spark(src.schema).with_identifier_fields("k")
    t = warehouse.create_table("db.idf", schema)
    t.append(src)
    upsert(t, spark.createDataFrame([(2, 99)], "k long, v long"))
    assert {r.k: r.v for r in t.to_df(spark).collect()} == {1: 10, 2: 99}
    with pytest.raises(KeyError):
        Schema.from_spark(src.schema).with_identifier_fields("nope")


def test_concurrent_upserts_two_processes(spark, warehouse, tmp_path):
    """Two OS processes upsert different keys concurrently; the loser of
    the optimistic race rebases via commit retry."""
    import subprocess
    import sys
    from pathlib import Path

    src = spark.createDataFrame([(i, i, 0) for i in range(10)],
                                "id long, k long, v long")
    t = warehouse.create_table("db.ccu", Schema.from_spark(src.schema))
    t.append(src)

    code = f'''
import sys; sys.path.insert(0, {str(Path(__file__).resolve().parents[1])!r})
import icelake_spark
from icelake_spark import StorageCatalog
from icelake_spark.delta import upsert
spark = icelake_spark.default_session("w2")
spark.sparkContext.setLogLevel("ERROR")
t = StorageCatalog({str(warehouse.warehouse)!r}).load_table("db.ccu")
upsert(t, spark.createDataFrame([(100, 1, 111)], "id long, k long, v long"),
       key_cols=["k"])
print("W2OK")
spark.stop()
'''
    p = subprocess.run([sys.executable, "-c", code], capture_output=True,
                       text=True, timeout=300)
    assert "W2OK" in p.stdout, p.stderr[-500:]
    # our (now stale) handle upserts a different key — retry rebases
    from icelake_spark.delta import upsert

    upsert(t, spark.createDataFrame([(200, 2, 222)], "id long, k long, v long"),
           key_cols=["k"])
    t.refresh()
    rows = {r.k: (r.id, r.v) for r in t.to_df(spark).collect()}
    assert rows[1] == (100, 111) and rows[2] == (200, 222)
    assert len(rows) == 10
