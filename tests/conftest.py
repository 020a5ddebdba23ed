import datetime as dt
import os
import sys
from decimal import Decimal

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_SMOKE = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    import icelake_spark

    # The suite is a CORRECTNESS gate over tiny (≤ sf0.001) inputs, and
    # at that size every job is pure fixed overhead: whole-stage-codegen
    # compiles each unique plan (~0.1-0.3 s of janino per query, paid
    # once since tests never re-run a plan), AQE adds a re-plan round
    # per exchange, and 32-way task dispatch costs more than the work.
    # 8 cores + interpreted expressions + AQE off measured 1.9x faster
    # on representative modules (OPTIMIZATION_r14.md Task 6) with
    # identical results. Production/bench sessions are untouched —
    # default_session keeps codegen+AQE on; modules that ASSERT
    # codegen/AQE plan shapes re-enable them via the _prod_plan_conf
    # fixture below. ICELAKE_TEST_CPUS / ICELAKE_TEST_CONF override.
    # With AQE off, every exchange runs at the session's shuffle
    # partitions — 32 would be 4x more tasks than cores, pure dispatch
    # latency at sf0.001, so they match the test core count (measured
    # r14: ctas+kernels subset 82.9 -> 54.1 s solo; codegen ON was
    # re-measured and LOSES on the same subset, 108 s — janino per
    # unique plan dominates at test scale, so it stays off).
    cpus = int(os.environ.get("ICELAKE_TEST_CPUS", "8"))
    s = icelake_spark.default_session("icelake_spark_tests", cpus=cpus,
                                      shuffle_partitions=cpus)
    s.sparkContext.setLogLevel("ERROR")
    s.conf.set("spark.sql.codegen.wholeStage", "false")
    s.conf.set("spark.sql.adaptive.enabled", "false")
    for kv in os.environ.get("ICELAKE_TEST_CONF", "").split(";"):
        if kv:
            k, v = kv.split("=", 1)
            s.conf.set(k, v)
    yield s
    s.stop()


@pytest.fixture()
def kernel_codegen(spark):
    """Re-enable whole-stage codegen for expression-KERNEL-bound tests
    (minhash/sketch/similarity folds): the test session's default
    interpreted mode is faster suite-wide (janino per unique plan
    dominates at sf0.001) but loses badly where a test evaluates a
    wide hash/fold kernel per row — measured r14: sketches-property
    module 196.5 -> 106.3 s, sampling+lane-parity+lsh-defunnel
    254.9 -> 191.2 s, minhash+simhash planted pair 63.3 -> 37.9 s
    with codegen back on. Function-scoped (a runtime-conf toggle is
    a couple of py4j calls) so a module can opt in per test or via
    pytestmark without leaking codegen into neighboring tests."""
    prev = spark.conf.get("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    yield spark
    spark.conf.set("spark.sql.codegen.wholeStage", prev)


@pytest.fixture()
def prod_plan_conf(spark):
    """Restore production plan behavior (codegen + AQE on) for tests
    that assert plan shapes the suite-latency defaults would change."""
    prev_ws = spark.conf.get("spark.sql.codegen.wholeStage")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.codegen.wholeStage", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    yield spark
    spark.conf.set("spark.sql.codegen.wholeStage", prev_ws)
    spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)


@pytest.fixture()
def warehouse(tmp_path):
    from icelake_spark import StorageCatalog

    return StorageCatalog(str(tmp_path / "wh"))


@pytest.fixture()
def arrow_rows():
    """Row tuples of the Arrow record batches a DataSource reader's
    read() yields."""
    def rows(batches):
        return [tuple(r.values()) for b in batches for r in b.to_pylist()]

    return rows


# the reference's F1 wide_types 5-row seed
# (/root/reference/testdata/toml/*.toml; FIXTURES.md F1)
WIDE_SCHEMA_DDL = (
    "id long, v_int int, v_long long, v_float float, v_double double, "
    "v_varchar string, v_bool boolean, v_date date, v_timestamp timestamp, "
    "v_decimal decimal(36,10), v_ts_ntz timestamp_ntz"
)


def wide_rows():
    rows = []
    for i in range(1, 6):
        ts = dt.datetime(2022, 11, i, 11, 3, 2, 123456, tzinfo=dt.timezone(dt.timedelta(hours=4)))
        rows.append((
            i, i, i * 1000, float(f"{i}.{i}"), float(f"{i}.{i}{i}"),
            f"{i}-{i}", i % 2 == 1, dt.date(2022, 11, i),
            ts.astimezone(dt.timezone.utc).replace(tzinfo=None),  # Spark stores UTC instants
            Decimal(f"389.{i}{i}{i}{i}"),
            dt.datetime(2022, 11, i, 11, 3, 2, 123456),
        ))
    return rows


@pytest.fixture()
def wide_df(spark):
    df = spark.createDataFrame(wide_rows(), WIDE_SCHEMA_DDL)
    # createDataFrame treats naive datetimes as session-tz (UTC) instants
    return df
