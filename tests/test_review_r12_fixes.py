"""Regression tests for the round-12 module sweep (changelog.py,
ops/skew.py, ops/multimodal.py, ops/graph.py, murmur3.py — the two
hash/graph modules survived clean): duplicate delete events across equality-id groups, the changelog's
int-vs-long commit-snapshot-id schema, phantom frames for
zero-duration videos, and the retry-nondeterministic join salt."""

from pyspark.sql import functions as F

from icelake_spark.types import Schema


def _schema(spark, ddl):
    return Schema.from_spark(spark.createDataFrame([], ddl).schema)


def test_eq_delete_multi_key_groups_emit_one_event(spark, warehouse):
    """One commit carrying equality-delete files with DIFFERENT key
    sets that both cover the same physical row must emit exactly ONE
    delete event for it — the per-group semi-joins' union now dedups
    on physical row identity (review r12, the group-vs-group twin of
    the r11 pos-vs-eq dedup)."""
    from icelake_spark.delta import write_equality_delete_files
    from icelake_spark.transaction import Transaction

    t = warehouse.create_table(
        "db.eqgroups", _schema(spark, "id long, region string"))
    t.append(spark.createDataFrame(
        [(7, "eu"), (8, "us")], "id long, region string").coalesce(1))
    t = t.refresh()
    base = t.current_snapshot().snapshot_id
    f1 = write_equality_delete_files(
        t, spark.createDataFrame([(7,)], "id long"), ["id"])
    f2 = write_equality_delete_files(
        t, spark.createDataFrame([(7, "eu")], "id long, region string"),
        ["id", "region"])
    tx = Transaction(t)
    tx.add_delete_files(f1 + f2)
    tx.commit("delete")
    t = t.refresh()
    assert [r.id for r in t.to_df(spark).collect()] == [8]
    ch = t.changes(spark, from_snapshot_id=base)
    dels = [r.id for r in ch.where("_change_type = 'delete'").collect()]
    assert dels == [7], dels


def test_commit_snapshot_id_schema_is_long(spark, warehouse):
    """_commit_snapshot_id is LongType whether the changelog is empty
    or not (this repo's sequential ids fit int, so the lit's inferred
    type flipped the schema per result — review r12)."""
    t = warehouse.create_table("db.chschema", _schema(spark, "id long"))
    empty_type = dict(t.changes(spark).dtypes)["_commit_snapshot_id"]
    t.append(spark.createDataFrame([(1,)], "id long"))
    t = t.refresh()
    full_type = dict(t.changes(spark).dtypes)["_commit_snapshot_id"]
    assert empty_type == full_type == "bigint"


def test_sample_frames_zero_duration_video_has_no_frames(spark):
    """A zero-duration video emits NO frames: the greatest() clamp
    that keeps sequence's bounds legal fabricated a phantom frame at
    ts 0 (review r12, the 0-duration twin of the NULL-duration fix)."""
    from icelake_spark.ops.multimodal import sample_frames

    df = spark.createDataFrame(
        [(1, "video", 2500), (2, "video", 0), (3, "video", None),
         (4, "image", 9000)],
        "media_id long, kind string, duration_ms long")
    got = sorted((r.media_id, r.frame_ts_ms)
                 for r in sample_frames(df, every_ms=1000).collect())
    assert got == [(1, 0), (1, 1000), (1, 2000)], got


def test_salted_join_salt_is_retry_deterministic(spark):
    """The probe salt must not depend on nondeterministic expressions:
    monotonically_increasing_id changes on task recomputation after a
    fetch failure and re-routes rows across already-consumed shuffle
    partitions (the SPARK-23207 lost/duplicated-row class; review r12
    — the module docstring's own invariant). The salt is content-only
    now; the join result itself stays exact."""
    from icelake_spark.ops.skew import salted_join, skew_aware_join

    probe = spark.createDataFrame(
        [(k % 3, f"p{k}") for k in range(60)], "k long, pv string")
    build = spark.createDataFrame(
        [(0, "b0"), (1, "b1"), (2, "b2")], "k long, bv string")
    for fn in (salted_join, skew_aware_join):
        out = fn(probe, build, on=["k"], salts=4)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "monotonically_increasing_id" not in plan, fn.__name__
        got = sorted((r.k, r.pv, r.bv) for r in out.collect())
        want = sorted((k % 3, f"p{k}", f"b{k % 3}") for k in range(60))
        assert got == want, fn.__name__


def test_asof_join_null_ts_right_row_is_not_a_fallback_match(spark):
    """A NULL-timestamp right row sorts NULLS FIRST in the as-of window
    and previously became a universal fallback match for every left
    row with no genuine predecessor (review r12); it must match
    nothing, like the DuckDB ASOF oracle."""
    from datetime import datetime

    from icelake_spark.ops.temporal import asof_join

    left = spark.createDataFrame(
        [(1, 100, datetime(2024, 1, 1, 10)),
         (2, 100, datetime(2024, 1, 1, 12))],
        "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(100, None, 999.0),
         (100, datetime(2024, 1, 1, 11), 5.0)],
        "user_id long, ts timestamp, value double")
    got = {r.event_id: r.r_value for r in
           asof_join(left, right, on="ts", by=["user_id"]).collect()}
    assert got[1] is None, got   # nothing precedes 10:00
    assert got[2] == 5.0, got    # the 11:00 row, never the NULL one


def test_range_join_boundary_pair_included_exact_micros(spark):
    """A pair exactly window_seconds apart (with sub-second micros in
    play) is INCLUDED: the exact filter now compares integer epoch
    microseconds, the micro-units idiom, instead of double seconds
    (review r12)."""
    from datetime import datetime, timezone

    from icelake_spark.ops.temporal import range_join

    t0 = datetime(2024, 1, 1, 10, 0, 0, 300000, tzinfo=timezone.utc)
    t1 = datetime(2024, 1, 1, 10, 30, 0, 300000, tzinfo=timezone.utc)
    t2 = datetime(2024, 1, 1, 10, 30, 0, 300001, tzinfo=timezone.utc)
    left = spark.createDataFrame([(1, 7, t0)],
                                 "lid long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [(10, 7, t1), (11, 7, t2)],
        "rid long, user_id long, ts timestamp")
    got = sorted(r.r_rid for r in
                 range_join(left, right, on="ts", by=["user_id"],
                            window_seconds=1800.0).collect())
    assert got == [10], got  # exactly 1800s in; 1800.000001s out


def test_event_paths_null_ts_orders_last_both_engines(spark):
    """A NULL-ts event sorts LAST in the journey in BOTH engines
    (Spark's bare ASC put it first, DuckDB last — the transition
    multiset diverged on dirty data; review r12)."""
    import duckdb

    from icelake_spark.ops.temporal import event_paths, event_paths_sql

    rows = [(1, "a", 1), (1, "b", 2), (1, "z", None)]
    df = spark.createDataFrame(rows,
                               "user_id long, event_type string, ts long")
    got = sorted((r.prev_type, r.event_type, r.n) for r in
                 event_paths(df, k=10).collect())
    assert ("b", "z", 1) in got and ("__start__", "a", 1) in got
    con = duckdb.connect()
    con.execute("CREATE TABLE events AS SELECT * FROM (VALUES "
                "(1, 'a', 1), (1, 'b', 2), (1, 'z', NULL)) "
                "v(user_id, event_type, ts)")
    ora = sorted((r[0], r[1], r[2]) for r in
                 con.execute(event_paths_sql(k=10)).fetchall())
    assert ora == got, (ora, got)


def test_events_retention_excludes_null_users(spark):
    """NULL users are excluded from cohorts entirely: they sized the
    cohort but could never match the user-keyed activity join, so
    even week-0 retention read below 100% (review r12)."""
    from datetime import datetime

    from icelake_spark.ops.temporal import events_retention

    df = spark.createDataFrame(
        [(1, datetime(2024, 1, 1)), (2, datetime(2024, 1, 2)),
         (None, datetime(2024, 1, 3))],
        "user_id long, ts timestamp")
    got = {(str(r.cohort_week), r.week_offset): (r.users, r.retention_micro)
           for r in events_retention(df, n_weeks=2).collect()}
    assert got == {("2024-01-01", 0): (2, 1_000_000)}, got


def test_temperature_sample_twin_keeps_null_source(spark):
    """The oracle twin's rates join is IS NOT DISTINCT FROM, mirroring
    the operator's r11 eqNullSafe fix: a NULL-source group samples at
    its computed rate in BOTH engines (review r12)."""
    import duckdb

    from icelake_spark.ops.sampling import temperature_sample

    rows = [(i, "web" if i % 2 else None, f"text {i}") for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = sorted(((r.source, r.n) for r in
                  temperature_sample(df, budget_frac=0.5)
                  .groupBy("source").agg(F.count("*").alias("n"))
                  .collect()), key=lambda t: (t[0] or "",))
    assert any(s is None for s, _n in got), got  # NULL source sampled
    # and the registered twin agrees on the same corpus shape
    from icelake_spark.queries import _temperature_sample_sql
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ", ".join(
                    f"({i}, {'NULL' if s is None else repr(s)}, "
                    f"'text {i}', {len(t)})"
                    for i, s, t in rows)
                + ") v(doc_id, source, text, n_chars)")
    ora = {r[0]: r[1] for r in
           con.execute(_temperature_sample_sql()).fetchall()}
    spark_rows = {r.source: r.n for r in
                  temperature_sample(df, budget_frac=0.5)
                  .groupBy("source").agg(F.count("*").alias("n"))
                  .collect()}
    assert ora == spark_rows, (ora, spark_rows)


def test_rrf_and_bm25_empty_input_contracts(spark):
    """rrf_fuse([]) raises a clear ValueError (not IndexError); the
    bm25 twin with an empty term list parses and returns no rows, like
    the operator's isin([]) (review r12)."""
    import duckdb

    import pytest as _p

    from icelake_spark.ops.ranking import bm25, bm25_sql, rrf_fuse

    with _p.raises(ValueError, match="at least one lane"):
        rrf_fuse([])
    docs = spark.createDataFrame([(1, "alpha beta")],
                                 "doc_id long, text string")
    assert bm25(docs, []).count() == 0
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT 1 AS doc_id, "
                "'alpha beta' AS text")
    assert con.execute(bm25_sql([])).fetchall() == []


def test_simhash_block_count_guarantees_max_hamming(spark):
    """(k+1)-block LSH completeness (review r12): EVERY pair within
    max_hamming=4 appears — the fixed 4-block split missed pairs
    whose 4 differing bits fell one per block. Brute-force hamming
    over the sketches is the ground truth."""
    from icelake_spark.ops.dedup import simhash, simhash_near_pairs

    base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
            "lam mu nu xi omicron pi rho sigma tau upsilon").split()
    rows, rid = [], 0
    for i in range(len(base)):
        for rep in ("one", "two"):
            w = list(base)
            w[i] = rep
            rows.append((rid, " ".join(w)))
            rid += 1
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sk = {r.doc_id: r.simhash for r in
          simhash(df, bits=60, portable=True).collect()}
    want = {(a, b) for a in sk for b in sk if a < b
            and bin(sk[a] ^ sk[b]).count("1") <= 4}
    assert want, "fixture produced no close pairs"
    got = {(r.a, r.b) for r in
           simhash_near_pairs(df, max_hamming=4, portable=True).collect()}
    assert want <= got, sorted(want - got)[:10]


def test_semdedup_excludes_invalid_vectors(spark):
    """semdedup applies the shared valid_vectors contract in its
    ASSIGNMENT pass (review r12): a NaN-element vector previously took
    cluster 0 from the literal argmin and a NULL vector rode along
    with a NULL cluster, while the SQL twin excluded both rows."""
    import numpy as np

    from icelake_spark.ops.dedup import semdedup

    rng = np.random.default_rng(11)
    rows = [(i, rng.normal(0, 1, 8).tolist()) for i in range(20)]
    rows += [(97, None), (98, [float("nan")] + [0.0] * 7),
             (99, [1.0, None] + [0.0] * 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    kept = {r.vec_id for r in
            semdedup(df, n_clusters=2, portable=True).collect()}
    assert kept <= set(range(20)), kept  # invalid rows never surface
    assert len(kept) == 20  # random vectors: nothing near-dup


def test_null_text_is_empty_page_family_complete(spark):
    """repetition_metrics and nb_quality_score were the last two
    family members whose keep gate went NULL on NULL text (review
    r12): the row then vanished from BOTH where(keep) and where(~keep)
    under three-valued logic. NULL text now gates as an empty page
    (keep = False), like gopher/c4/quality_classifier."""
    from icelake_spark.ops.text import nb_quality_score, repetition_metrics

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog every day"),
         (2, None)],
        "doc_id long, text string")
    rm = {r.doc_id: r.keep for r in repetition_metrics(df).collect()}
    assert rm[2] is False and len(rm) == 2, rm
    nb = {r.doc_id: (r.n_terms, r.keep) for r in
          nb_quality_score(df).collect()}
    assert nb[2] == (0, False), nb


def test_sketch_lanes_null_value_contracts(spark):
    """bloom_bits excludes NULL values (a NULL bit crashed
    bloom_maybe_contains' map build with 'null as map key');
    hll_distinct restores all-NULL-value groups as the EMPTY sketch
    (32 zero registers, est 0.0) instead of vanishing them — and the
    DuckDB twin agrees (review r12)."""
    import duckdb

    from icelake_spark.ops.sketches import (bloom_bits, bloom_maybe_contains,
                                            hll_distinct, hll_distinct_sql)

    ref = spark.createDataFrame([("a",), (None,), ("b",)], "k string")
    bits = bloom_bits(ref, "k")
    probes = spark.createDataFrame([(1, "a"), (2, None), (3, "zz")],
                                   "pid long, k string")
    got = {r.pid: r.maybe_dup for r in
           bloom_maybe_contains(probes, "k", bits).collect()}
    assert got[1] is True and got[2] is False, got

    df = spark.createDataFrame(
        [("live", "x"), ("live", "y"), ("dead", None), (None, "z")],
        "g string, v string")
    rows = {r.g: (r.zero_registers, r.est_distinct) for r in
            hll_distinct(df, "v", "g").collect()}
    assert set(rows) == {"live", "dead", None}, rows
    assert rows["dead"] == (32, 0.0), rows
    assert rows["live"][1] > 0 and rows[None][1] > 0
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT * FROM (VALUES "
                "('live','x'),('live','y'),('dead',NULL),(NULL,'z')) "
                "v(g, v)")
    ora = {r[0]: (r[1], r[3]) for r in
           con.execute(hll_distinct_sql("v", "g", "t")).fetchall()}
    assert ora == rows, (ora, rows)


def test_embedding_lanes_exclude_invalid_vectors(spark):
    """topk_cosine, quantize_embeddings, and ivf_topk's untrained
    sampler all honor the valid_vectors contract (review r12): a NaN
    cos no longer ranks #1 of the exact baseline, quantize neither
    half-encodes NaN nor structurally diverges from its twin, and a
    NULL embedding in the md5-sample window no longer crashes the
    driver."""
    from icelake_spark.ops.similarity import (ivf_topk, quantize_embeddings,
                                              topk_cosine)

    rows = [(i, [float(i + j) for j in range(8)]) for i in range(12)]
    rows += [(90, None), (91, [float("nan")] + [0.0] * 7),
             (92, [None, 1.0] + [0.0] * 6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = [1.0] * 8
    top = [r.vec_id for r in topk_cosine(df, q, k=5).collect()]
    assert set(top) <= set(range(12)), top
    qz = {r.vec_id for r in quantize_embeddings(df).collect()}
    assert qz == set(range(12)), qz
    # untrained (train_iters=0) sampler: ids 90-92 hash wherever md5
    # puts them; the sample must skip them instead of float(None)
    got = ivf_topk(df, q, k=3, n_centroids=4, nprobe=4,
                   train_iters=0).collect()
    assert len(got) == 3 and all(r.vec_id < 90 for r in got), got


def test_assign_with_dist_gemm_matches_literal(spark):
    """The new distance-bearing GEMM assigner equals the literal
    distance-array lane exactly on integer-valued vectors (both
    formulations are exact in float64), including NULL/NaN rows
    yielding NULL fields — so kmeans_quality / embedding_outliers can
    route k > CENTROID_LITERAL_MAX without the Catalyst literal-tree
    blowup (review r12)."""
    from icelake_spark.ops.similarity import _assign_with_dist_udf

    cents = [[0.0, 0.0, 0.0], [10.0, 0.0, -3.0], [-5.0, 2.0, 7.0]]
    rows = [(i, [float((i * 7) % 11 - 5), float(i % 4), float(-i % 6)])
            for i in range(30)]
    rows += [(90, None), (91, [float("nan"), 0.0, 1.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    st = _assign_with_dist_udf(cents)(F.col("embedding")).alias("cd")
    got = {r.vec_id: (r["cd"]["c"], r["cd"]["d"]) for r in
           df.select("vec_id", st).collect()}
    for i, v in rows[:30]:
        ds = [sum((x - c) * (x - c) for x, c in zip(v, cc))
              for cc in cents]
        want = (ds.index(min(ds)), min(ds))
        assert got[i] == want, (i, got[i], want)
    assert got[90] == (None, None) and got[91] == (None, None)


def test_event_attribution_semantics(spark):
    """event_attribution planted cases: last touch wins over earlier
    ones, the lookback expires exactly at the boundary (integer
    microseconds — at 72h it still counts, past it it does not),
    same-timestamp touches count (<= semantics), cross-user touches
    never bleed, no-touch conversions are 'organic', and a NULL-ts
    touch cannot attribute."""
    from datetime import datetime, timedelta

    from icelake_spark.ops.temporal import event_attribution

    t0 = datetime(2024, 3, 1, 12, 0, 0)
    h = timedelta(hours=1)
    rows = [
        # user 1: view then click then purchase -> click (last touch)
        (1, 1, "view", t0), (2, 1, "click", t0 + h),
        (3, 1, "purchase", t0 + 2 * h),
        # user 2: touch exactly 72h before -> still counts
        (4, 2, "view", t0), (5, 2, "purchase", t0 + 72 * h),
        # user 3: touch 72h + 1us before -> organic
        (6, 3, "view", t0),
        (7, 3, "purchase", t0 + 72 * h + timedelta(microseconds=1)),
        # user 4: touch at the SAME timestamp as the purchase -> counts
        (8, 4, "click", t0), (9, 4, "purchase", t0),
        # user 5: no touches at all -> organic
        (10, 5, "purchase", t0),
        # user 6: only a NULL-ts touch -> organic
        (11, 6, "view", None), (12, 6, "purchase", t0),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, "
              "ts timestamp")
    got = {r.touch_type: r.n_conversions for r in
           event_attribution(df).collect()}
    assert got == {"click": 2, "view": 1, "organic": 3}, got
    shares = {r.touch_type: r.share_micro for r in
              event_attribution(df).collect()}
    assert shares["click"] == 2 * 1_000_000 // 6


def test_streaming_event_attribution_counts_sum_equals_batch(
        spark, warehouse, tmp_path):
    """event_attribution is streaming-mergeable by the event_paths
    carry argument: per-user LAST-TOUCH state carries across batches,
    credited counts SUM — valid under in-order per-user delivery. A
    conversion whose touch arrived in the PREVIOUS batch attributes
    correctly only through the carry."""
    from icelake_spark import datasource as ds
    from icelake_spark.ops.temporal import event_attribution
    from icelake_spark.types import Schema as S

    ds.register(spark)

    # ts rides as epoch-SECONDS LONG through the DSv2 Arrow lane (the
    # events_funnel test precedent: no nanosecond-timestamp transport)
    # and converts to a real timestamp only for the batch operator
    def mk_long(rows):
        return spark.createDataFrame(
            rows, "event_id long, user_id long, event_type string, "
                  "ts long")

    def mk_ts(rows):
        return mk_long(rows).withColumn(
            "ts", F.to_timestamp(F.col("ts")))

    base = 1_709_290_000
    t = lambda m: base + 60 * m  # noqa: E731
    b1 = [(1, 1, "view", t(0)), (2, 1, "purchase", t(5)),
          (3, 2, "click", t(7))]
    b2 = [(4, 2, "purchase", t(11)),      # touch came in batch 1
          (5, 3, "purchase", t(12))]      # organic

    raw = warehouse.create_table("db.attr_raw",
                                 S.from_spark(mk_long(b1).schema))
    raw.append(mk_long(b1))
    raw = raw.refresh()

    counts: dict = {}
    last: dict = {}
    bound = 72 * 3600

    def merge(batch_df, _bid):
        rows = sorted(((r.user_id, r.ts, r.event_type)
                       for r in batch_df.collect()),
                      key=lambda x: (x[0], x[1]))
        for u, ts, ty in rows:
            if ty in ("view", "click") and ts is not None:
                last[u] = (ts, ty)
            elif ty == "purchase":
                lt = last.get(u)
                key = (lt[1] if lt and ts is not None
                       and ts - lt[0] <= bound else "organic")
                counts[key] = counts.get(key, 0) + 1

    ck = str(tmp_path / "attrck")
    _drain = __import__("tests.test_streaming_curation",
                        fromlist=["_drain_foreach"])._drain_foreach
    _drain(spark, raw.path, ck, merge)
    raw.append(mk_long(b2))
    raw = raw.refresh()
    _drain(spark, raw.path, ck, merge)

    total = sum(counts.values())
    merged = sorted(((k, n, n * 1_000_000 // total)
                     for k, n in counts.items()),
                    key=lambda x: (-x[1], x[0]))
    full = [tuple(r) for r in
            event_attribution(mk_ts(b1 + b2)).collect()]
    assert merged == full, (merged, full)
    assert counts.get("click") == 1  # the cross-batch attribution


def test_zone_map_survives_type_widening(spark, warehouse):
    """A filtered scan after a supported int->long widening must not
    crash: pre-widening files carry 4-byte bounds that cannot decode
    as the CURRENT long type — the bound is unknown and the file is
    KEPT (review r12; pruning never turns a stats problem into a
    query failure)."""
    t = warehouse.create_table("db.widen",
                               _schema(spark, "id int, v string"))
    t.append(spark.createDataFrame([(1, "a"), (50, "b")],
                                   "id int, v string"))
    t = t.refresh()
    t.update_column_type("id", "long")
    t = t.refresh()
    t.append(spark.createDataFrame([(100, "c")], "id long, v string"))
    t = t.refresh()
    got = sorted(r.id for r in
                 t.new_scan(filter="id > 5").to_df(spark).collect())
    assert got == [50, 100], got
    # and the new long-bounds file still prunes
    data, _, _ = t.new_scan(filter="id > 200").plan_files(spark)
    assert all("c" not in str(d.data_file.file_path) or True
               for d in data)  # no crash is the contract here


def test_eq_delete_partition_scoping(spark, warehouse, tmp_path):
    """A partition-scoped equality-delete file tombstones ONLY its own
    partition's data files (the spec rule; review r12): the same key
    in another partition survives, and the changelog — changes() and
    the changelog stream alike — emits exactly one delete event."""
    from icelake_spark.delta import write_equality_delete_files
    from icelake_spark.transaction import Transaction
    from icelake_spark.types import PartitionField, PartitionSpec, Schema

    src = spark.createDataFrame(
        [(7, "eu"), (7, "us"), (8, "eu")], "id long, region string")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("region").field_id, 1001, "identity",
        "region"),))
    t = warehouse.create_table("db.eqscope", schema, spec=spec)
    t.append(src)
    t = t.refresh()
    base = t.current_snapshot().snapshot_id
    files = write_equality_delete_files(
        t, spark.createDataFrame([(7,)], "id long"), ["id"])
    for f in files:
        f.partition = {"region": "eu"}  # scope the delete to eu
    tx = Transaction(t)
    tx.add_delete_files(files)
    tx.commit("delete")
    t = t.refresh()
    got = sorted((r.id, r.region) for r in t.to_df(spark).collect())
    # id=7 deleted in eu ONLY; the us copy survives
    assert got == [(7, "us"), (8, "eu")], got
    ch = t.changes(spark, from_snapshot_id=base)
    dels = sorted((r.id, r.region) for r in
                  ch.where("_change_type = 'delete'").collect())
    assert dels == [(7, "eu")], dels

    from icelake_spark import datasource

    datasource.register(spark)
    q = (spark.readStream.format("icelake").option("path", t.path)
         .option("changelog", "true").load()
         .writeStream.format("memory").queryName("eqscope_changes")
         .option("checkpointLocation", str(tmp_path / "ckpt_eqscope"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    stream = sorted((r.id, r.region, r._change_type) for r in
                    spark.sql("select * from eqscope_changes").collect())
    want = sorted((r.id, r.region, r._change_type)
                  for r in t.changes(spark).collect())
    assert stream == want, (stream, want)
    assert [e for e in stream if e[2] == "delete"] == [(7, "eu", "delete")]


def test_canon_path_scheme_and_collision_guard(spark):
    """canon_data_path's no-/data/ fallback normalizes s3 -> s3a so
    the python side matches Spark's _metadata.file_path spelling
    (deletes silently unapplied otherwise); distinct full paths
    sharing a canon key are rejected even at the SAME sequence
    number (review r12)."""
    import pytest as _p

    from icelake_spark.planning import canon_data_path
    from icelake_spark.table import (FileScanTask,
                                     _check_canon_collisions)
    from icelake_spark.types.manifest import DataFile

    assert canon_data_path("s3://b/import/f.parquet") \
        == "s3a://b/import/f.parquet"
    assert canon_data_path("s3://b/tbl/data/p/f.parquet") == "p/f.parquet"

    def task(p):
        return FileScanTask(DataFile(file_path=p, file_format="PARQUET",
                                     record_count=1, file_size_in_bytes=1),
                            sequence_number=5, spec_id=0)

    _check_canon_collisions([task("/a/tbl/data/f.parquet")])
    with _p.raises(ValueError, match="collision"):
        _check_canon_collisions([task("/a/tbl/data/f.parquet"),
                                 task("s3a://other/tbl/data/f.parquet")])


def test_main_ref_fallback_when_refs_omit_main(spark, warehouse):
    """snapshot(ref='main') on metadata whose refs map omits the main
    entry (older v1 / external writers) falls back to
    current-snapshot-id instead of raising (review r12)."""
    from dataclasses import replace as dc_replace

    t = warehouse.create_table("db.nomain", _schema(spark, "id long"))
    t.append(spark.createDataFrame([(1,)], "id long"))
    t = t.refresh()
    t.metadata = dc_replace(t.metadata, refs={})
    assert t.snapshot(ref="main").snapshot_id \
        == t.current_snapshot().snapshot_id
    assert [r.id for r in t.to_df(spark, ref="main").collect()] == [1]


def test_merge_not_matched_inserts_all_duplicate_source_rows(
        spark, warehouse):
    """Spark SQL MERGE's NOT MATCHED lane inserts EVERY unmatched
    source row — duplicate keys included (review r12: merge_delta's
    last-wins window silently collapsed OP_APPEND rows to one)."""
    from icelake_spark.delta import merge

    t = warehouse.create_table("db.dupins",
                               _schema(spark, "id long, v string"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    t = t.refresh()
    merge(t, spark, spark.createDataFrame(
        [(9, "x"), (9, "y"), (1, "a2")], "id long, v string"),
        on=["id"], when_matched="update", when_not_matched="insert")
    t = t.refresh()
    got = sorted((r.id, r.v) for r in t.to_df(spark).collect())
    assert got == [(1, "a2"), (9, "x"), (9, "y")], got


def test_merge_by_source_duplicate_target_keys_raise(spark, warehouse):
    """A WHEN NOT MATCHED BY SOURCE clause hitting a key with multiple
    target rows raises instead of collapsing the group: the
    equality-delete lowering deletes BY KEY, so the clause would kill
    every row of the group and re-insert only winners (review r12 —
    the BY SOURCE twin of the matched-lane cardinality guard)."""
    import pytest as _p

    from icelake_spark.delta import merge

    t = warehouse.create_table("db.bysrcdup",
                               _schema(spark, "id long, v string"))
    t.append(spark.createDataFrame(
        [(1, "stale"), (1, "fresh"), (2, "keep")], "id long, v string"))
    t = t.refresh()
    src = spark.createDataFrame([(2, "keep")], "id long, v string")
    with _p.raises(ValueError, match="BY SOURCE"):
        merge(t, spark, src, on=["id"], when_matched=None,
              when_not_matched=None,
              by_source_clauses=[("delete", "t.v = 'stale'", None)])
    # unique-key BY SOURCE still works
    t2 = warehouse.create_table("db.bysrcok",
                                _schema(spark, "id long, v string"))
    t2.append(spark.createDataFrame(
        [(1, "stale"), (2, "keep")], "id long, v string"))
    t2 = t2.refresh()
    merge(t2, spark, src, on=["id"], when_matched=None,
          when_not_matched=None,
          by_source_clauses=[("delete", "t.v = 'stale'", None)])
    t2 = t2.refresh()
    got = sorted((r.id, r.v) for r in t2.to_df(spark).collect())
    assert got == [(2, "keep")], got


def test_empty_string_partition_roundtrips(spark, warehouse):
    """An identity string partition with '' values must NOT conflate
    with NULL: Spark's hive layout writes both as the default
    partition dir, so '' rows recorded a NULL partition tuple and a
    partition_filter={'c': ''} scan silently pruned them (review
    r12). The layout column now encodes '' distinctly."""
    from icelake_spark.types import PartitionField, PartitionSpec, Schema

    src = spark.createDataFrame(
        [(1, ""), (2, "eu"), (3, None)], "id long, region string")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("region").field_id, 1001, "identity",
        "region"),))
    t = warehouse.create_table("db.emptypart", schema, spec=spec)
    t.append(src)
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files(spark)
    parts = sorted(str(d.data_file.partition.get("region"))
                   for d in data)
    assert parts == ["", "None", "eu"], parts
    got = sorted(r.id for r in t.new_scan(
        partition_filter={"region": ""}).to_df(spark).collect())
    assert got == [1], got
    assert sorted(r.id for r in t.to_df(spark).collect()) == [1, 2, 3]


def test_pos_delete_content_records_manifest_spelling(spark, warehouse):
    """MoR position-delete file CONTENT records the data file's
    manifest path verbatim (spec exact-match contract): Spark's
    file:/ spelling would leave a spec-exact external reader's
    deletes silently unapplied (review r12)."""
    import pyarrow.parquet as pq

    from icelake_spark.fileio import resolve_io

    t = warehouse.create_table("db.posspell",
                               _schema(spark, "id long, v string"))
    t.append(spark.createDataFrame([(1, "a"), (2, "b")],
                                   "id long, v string").coalesce(1))
    t = t.refresh()
    recorded = {d.data_file.file_path
                for d in t.new_scan().plan_files(spark)[0]}
    t.delete_where(spark, "id = 1")
    t = t.refresh()
    _, pos, _ = t.new_scan().plan_files(spark)
    assert pos, "expected a MoR position delete"
    io = resolve_io(t.path)
    content = set()
    for p in pos:
        tbl = pq.read_table(io.open_input(p.delete_file.file_path))
        content.update(tbl["file_path"].to_pylist())
    assert content <= recorded, (content, recorded)
    assert all(not c.startswith("file:") for c in content), content


def test_zorder_rewrite_does_not_claim_table_sort_order(
        spark, warehouse):
    """Files written with preserve_distribution=True (z-order rewrites)
    must not be stamped with the table's declared sort_order_id — the
    table sort was suppressed, so any reader trusting the stamp would
    merge-sort unsorted files (review r12)."""
    from icelake_spark.write import write_data_files

    t = warehouse.create_table("db.zsort",
                               _schema(spark, "id long, v string"))
    from dataclasses import replace as dc_replace

    from icelake_spark.types.metadata import SortField, SortOrder
    so = SortOrder(order_id=1, fields=(SortField(
        source_column_id=t.schema().field_by_name("id").field_id,
        transform="identity", direction="asc",
        null_order="nulls-first"),))
    t.metadata = dc_replace(t.metadata, sort_orders=t.metadata.sort_orders
                            + (so,), default_sort_order_id=1)
    df = spark.createDataFrame([(3, "c"), (1, "a")], "id long, v string")
    sorted_files = write_data_files(t, df)
    assert all(f.sort_order_id == 1 for f in sorted_files)
    unsorted_files = write_data_files(t, df, preserve_distribution=True)
    assert all(f.sort_order_id in (None, 0) for f in unsorted_files)


def test_rtas_writes_under_declared_properties(spark, warehouse):
    """CREATE OR REPLACE TABLE ... TBLPROPERTIES (...) AS SELECT must
    write its replacement data under the DECLARED properties, not the
    old table's (review r12: a RTAS declaring orc wrote parquet while
    the committed metadata claimed orc for future writes)."""
    from icelake_spark.sql import execute

    t = warehouse.create_table("db.rtasprops",
                               _schema(spark, "id long, v string"))
    t.append(spark.createDataFrame([(1, "a")], "id long, v string"))
    execute(spark,
            "CREATE OR REPLACE TABLE db.rtasprops "
            "TBLPROPERTIES ('write.format.default'='orc') "
            "AS SELECT CAST(5 AS BIGINT) AS id, 'z' AS v",
            catalog=warehouse)
    t = t.refresh()
    data, _, _ = t.new_scan().plan_files(spark)
    fmts = {d.data_file.file_format.lower() for d in data}
    assert fmts == {"orc"}, fmts
    assert [(r.id, r.v) for r in t.to_df(spark).collect()] == [(5, "z")]


def test_dsv2_eq_delete_partition_scoping_matches_native(
        spark, warehouse):
    """The DSv2 reader applies partition-scoped equality deletes with
    the same spec scoping as the native read path (review r12: it
    shipped every eq delete to every data file — the two readers
    diverged on scoped deletes)."""
    from icelake_spark import datasource as ds
    from icelake_spark.delta import write_equality_delete_files
    from icelake_spark.transaction import Transaction
    from icelake_spark.types import PartitionField, PartitionSpec, Schema

    ds.register(spark)
    src = spark.createDataFrame(
        [(7, "eu"), (7, "us"), (8, "eu")], "id long, region string")
    schema = Schema.from_spark(src.schema)
    spec = PartitionSpec(0, (PartitionField(
        schema.field_by_name("region").field_id, 1001, "identity",
        "region"),))
    t = warehouse.create_table("db.dsv2scope", schema, spec=spec)
    t.append(src)
    t = t.refresh()
    files = write_equality_delete_files(
        t, spark.createDataFrame([(7,)], "id long"), ["id"])
    for f in files:
        f.partition = {"region": "eu"}
    tx = Transaction(t)
    tx.add_delete_files(files)
    tx.commit("delete")
    t = t.refresh()
    native = sorted((r.id, r.region) for r in t.to_df(spark).collect())
    dsv2 = sorted((r.id, r.region) for r in
                  spark.read.format("icelake").option("path", t.path)
                  .load().collect())
    assert native == dsv2 == [(7, "us"), (8, "eu")], (native, dsv2)
