"""Plan-quality regression guards: the properties that matter at 100 TB
must be visible in the physical plan — filter/projection pushdown into
the parquet scan, broadcast of small dimensions, zone-map file skipping,
and no Python evaluation in JVM-expressible operators."""

import pytest
from pyspark.sql import functions as F

from icelake_spark.types import Schema


@pytest.fixture(autouse=True)
def _prod_plans(prod_plan_conf):
    """This module asserts PRODUCTION plan shapes (codegen spans, AQE
    final plans, broadcast conversion) — run it under production conf,
    not the suite-latency defaults (conftest)."""
    yield


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_scan_pushdown_reaches_parquet(spark, warehouse):
    src = spark.range(10000).selectExpr("id", "id % 10 as g",
                                        "cast(id as string) as s")
    t = warehouse.create_table("db.push", Schema.from_spark(src.schema))
    t.append(src)
    df = t.new_scan(columns=["id"], filter="id > 100").to_df(spark)
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(id), GreaterThan(id,100)" in plan
    assert "ReadSchema: struct<id:bigint>" in plan


def test_join_broadcasts_small_dimension(spark):
    from icelake_spark.queries import q5_local_supplier

    plan = _plan(q5_local_supplier(spark, "/root/testdata/sf0.001"))
    assert "BroadcastHashJoin" in plan
    # the fact table is never broadcast
    assert plan.count("BroadcastExchange") >= 2


def test_zone_map_file_skipping(spark, warehouse):
    src = spark.range(40000).select("id")
    t = warehouse.create_table("db.zone", Schema.from_spark(src.schema))
    for lo in range(0, 40000, 10000):
        t.append(src.where(f"id >= {lo} and id < {lo + 10000}"))
    pruned, _, _ = t.new_scan(filter="id >= 30000").plan_files()
    full, _, _ = t.new_scan().plan_files()
    assert len(full) >= 4 and len(pruned) < len(full)


def test_mor_delete_join_is_broadcast(spark, warehouse):
    src = spark.range(5000).selectExpr("id", "id % 5 as g")
    t = warehouse.create_table("db.morp", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "g = 0")
    plan = _plan(t.to_df(spark))
    # position-delete anti join builds on the (small) delete side
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_mor_large_delete_side_not_broadcast(spark, warehouse):
    """A delete set beyond read.delete.broadcast-threshold-bytes must
    fall back to a shuffle anti-join — broadcasting an unbounded bulk
    delete_where result OOMs the driver at scale."""
    src = spark.range(5000).selectExpr("id", "id % 5 as g")
    t = warehouse.create_table("db.morbig", Schema.from_spark(src.schema))
    t.append(src)
    t.delete_where(spark, "g = 0")
    # force every planned delete file over the gate
    t.set_properties({"read.delete.broadcast-threshold-bytes": "1"})
    plan = _plan(t.to_df(spark))
    assert "LeftAnti" in plan
    anti = [ln for ln in plan.splitlines() if "LeftAnti" in ln]
    assert anti and all("Broadcast" not in ln for ln in anti), anti
    # rows still correct without the broadcast
    assert t.to_df(spark).count() == 4000


def test_no_python_eval_in_sql_operators(spark):
    """Text/dedup/analytic operators must stay JVM-side (no BatchEvalPython
    / ArrowEvalPython nodes) — only the murmur3 bucket transform and
    multimodal decode are allowed Python."""
    from icelake_spark.ops.dedup import dedup_exact, minhash_signatures
    from icelake_spark.ops.text import analyze_documents

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for df in (analyze_documents(docs), dedup_exact(docs),
               minhash_signatures(docs, num_hashes=8)):
        plan = _plan(df)
        assert "EvalPython" not in plan, plan[:500]


def test_whole_stage_codegen_covers_agg(spark):
    from icelake_spark.queries import q1_pricing_summary

    df = q1_pricing_summary(spark, "/root/testdata/sf0.001")
    df.collect()  # materialize AQE's final plan
    plan = _plan(df)
    # '*(n)' prefixes = whole-stage-codegen'd spans in AQE's compact form
    assert "*(1)" in plan and "*(2)" in plan
    # map-side partial aggregation before the shuffle
    assert "partial_sum" in plan


def test_new_shapes_plan_properties(spark):
    """The TPC-H shapes added after round 1 keep their intended physical
    properties: dims broadcast, EXISTS becomes a semi join, rollup/cube
    is a single Expand, and disjunctive predicates reach the scan."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # q2: window min, EUROPE dims broadcast
    p2 = _plan(Q.q2_min_cost_supplier(spark, sf))
    assert "BroadcastHashJoin" in p2 and "Window" in p2
    # q4/q20: EXISTS → left semi
    assert "LeftSemi" in _plan(Q.q4_priority_late_orders(spark, sf))
    assert "LeftSemi" in _plan(Q.q20_promo_part_suppliers(spark, sf))
    # q16: blacklist NOT IN → left anti
    assert "LeftAnti" in _plan(Q.q16_supplier_relationship(spark, sf))
    # rollup/cube plan exactly one Expand node
    assert _plan(Q.rollup_pricing(spark, sf)).count("Expand") == 1
    assert _plan(Q.cube_order_stats(spark, sf)).count("Expand") == 1
    # q19: OR-of-ANDs predicate pushed to the lineitem scan
    p19 = _plan(Q.q19_discounted_revenue(spark, sf))
    assert "PushedFilters" in p19 and "Or(" in p19
    # q11/q15/q22: scalar aggregate joined back without a driver collect
    for fn in (Q.q11_important_parts, Q.q15_top_supplier):
        plan = _plan(fn(spark, sf))
        assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_set_ops_and_pivot_stay_jvm(spark):
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    for fn in (Q.set_ops_customers, Q.pivot_returnflag,
               Q.percentiles_by_status, Q.stats_aggregates):
        assert "EvalPython" not in _plan(fn(spark, sf))


def test_session3_operators_plan_properties(spark):
    """The curation operators added in this pass keep their intended
    physical shape: no Python eval, broadcasts where the small side is
    bounded, and compute-bound doc stages fanned out past one task."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # bm25: doc-frequency and vocab joins broadcast; all-JVM
    pb = _plan(Q.bm25_topk_q(spark, sf))
    assert "BroadcastHashJoin" in pb and "EvalPython" not in pb
    # vocab encoding: the vocab collapses to ONE broadcast map row
    # (BroadcastNestedLoopJoin of a 1-row side) and documents encode in
    # place — no token explode+shuffle join on the encode side
    pe = _plan(Q.encode_documents_q(spark, sf))
    assert "BroadcastNestedLoopJoin" in pe and "EvalPython" not in pe
    assert "SortMergeJoin" not in pe
    # quantization: pure projection — no shuffle except the final sort
    pq_ = _plan(Q.quantize_embeddings_q(spark, sf))
    assert "EvalPython" not in pq_ and "Join" not in pq_
    # repetition metrics / ngram: the tokenize stage runs on an exchange
    # with an explicit partition count, not inside the one-task scan
    from icelake_spark.ops.text import repetition_metrics

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pr = _plan(repetition_metrics(docs))
    assert "REPARTITION_BY_NUM" in pr or "RoundRobinPartitioning" in pr \
        or "hashpartitioning" in pr.lower()
    # ...and the metric itself is a narrow sorted-array aggregate pass:
    # no explode+groupBy shuffle, no join back on doc_id
    assert "Join" not in pr and "Generate" not in pr


def test_or_and_in_filters_prune_correctly(spark, warehouse):
    """OR filters prune per-branch (review r2 found a parser that fed
    \'x\' OR id = 2 as one literal and DROPPED matching files; the DNF
    pruner keeps a file when ANY branch might match), and IN lists
    prune as a disjunction of equalities."""
    src = spark.range(40000).selectExpr("id", "cast(id as string) as name")
    t = warehouse.create_table("db.orf", Schema.from_spark(src.schema))
    for lo in range(0, 40000, 10000):
        t.append(src.where(f"id >= {lo} and id < {lo + 10000}"))
    full, _, _ = t.new_scan().plan_files()
    pruned, _, _ = t.new_scan(filter="name = 'x' OR id = 2").plan_files()
    # the id=2 branch keeps exactly the first file; 'x' sorts above
    # every digit-string upper bound so the name branch keeps none
    assert 1 <= len(pruned) < len(full)
    rows = t.new_scan(filter="name = 'x' OR id = 2").to_df(spark).collect()
    assert [r.id for r in rows] == [2]
    # OR with an unparseable branch must NOT prune (that branch could
    # match anything)
    p3, _, _ = t.new_scan(filter="id = 2 OR length(name) = 1").plan_files()
    assert len(p3) == len(full)
    # a literal containing ' or ' must not split
    p4, _, _ = t.new_scan(filter="name = 'x or y'").plan_files()
    assert len(p4) == 0 or all(True for _ in p4)  # no crash; sound prune
    rows4 = t.new_scan(filter="name = 'x or y'").to_df(spark).collect()
    assert rows4 == []
    # IN list prunes to the union of matching files
    p5, _, _ = t.new_scan(filter="id IN (2, 35000)").plan_files()
    assert len(p5) == 2
    rows5 = sorted(r.id for r in
                   t.new_scan(filter="id IN (2, 35000)").to_df(spark)
                   .collect())
    assert rows5 == [2, 35000]
    # plain conjuncts still prune
    pr2, _, _ = t.new_scan(filter="id >= 30000").plan_files()
    assert len(pr2) < len(full)


def test_fanout_skips_prepartitioned_input(spark):
    """fanout() must not reshuffle an input that already has enough
    partitions (at 100 TB the scan arrives in tens of thousands of
    splits; an unconditional repartition would full-shuffle the corpus
    bytes for nothing)."""
    from icelake_spark.ops.util import fanout

    n = spark.sparkContext.defaultParallelism * 2
    wide = spark.range(1000).repartition(n * 2, "id")
    assert fanout(wide, F.col("id")) is wide  # pass-through, no new plan
    narrow = spark.range(1000).coalesce(1)
    out = fanout(narrow, F.col("id"))
    assert out is not narrow
    assert out.rdd.getNumPartitions() == n


def test_duplicate_spans_plan_properties(spark):
    """Span detection stays JVM-side: hashed-gram join key (8 bytes,
    never the gram string), no Python evaluation, and the hot-gram cap
    joins as a broadcast."""
    from icelake_spark.ops.dedup import duplicate_spans

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(duplicate_spans(docs, n=3, min_run=2))
    assert "EvalPython" not in plan
    assert "xxhash64" in plan
    assert "BroadcastHashJoin" in plan  # hot-gram anti-join broadcasts


def test_round5_operators_plan_properties(spark):
    """Round-5 operators keep their intended physical shape."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # trigram familiarity: the charset-bounded count map collapses to a
    # ONE-row broadcast (BroadcastNestedLoopJoin) and docs score in
    # place — no SortMergeJoin of exploded trigram rows, no Python eval
    pt = _plan(Q.trigram_familiarity_q(spark, sf))
    assert "BroadcastNestedLoopJoin" in pt and "EvalPython" not in pt
    assert "SortMergeJoin" not in pt
    # retention dedup: survivor choice is one hash aggregate over
    # (cluster, id, score) triples — no corpus-wide window sort
    pk = _plan(Q.dedup_keep_best_q(spark, sf))
    assert "EvalPython" not in pk
    assert "Window" not in pk


def test_round8_operators_plan_properties(spark):
    """Round-8 operators keep their intended physical shape."""
    from icelake_spark import queries as Q
    from icelake_spark.ops.dedup import semdedup

    sf = "/root/testdata/sf0.001"
    # LM scoring: count-model joins broadcast (vocabulary-bounded
    # sides), no corpus-wide window, no Python eval
    p1 = _plan(Q.lm_bigram_score_q(spark, sf))
    assert "EvalPython" not in p1 and "Window" not in p1
    assert "BroadcastHashJoin" in p1
    assert "SortMergeJoin" not in p1
    # BPE encode: a narrow projection — the only exchange is the
    # output sort, never a shuffle of document text for the encode
    p2 = _plan(Q.bpe_encode_q(spark, sf))
    assert "EvalPython" not in p2
    assert p2.count("Exchange") <= 1
    # semdedup: pairwise cosine confined to the cluster-id join; the
    # drop list anti-joins broadcast; never a cartesian product
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    p3 = _plan(semdedup(emb, n_clusters=4, threshold=0.35,
                        train_iters=1, portable=True))
    assert "EvalPython" not in p3
    assert "CartesianProduct" not in p3
    assert "BroadcastHashJoin" in p3


def test_pagerank_and_curation_v2_plan_properties(spark):
    """The iterative and composed round-8 queries stay JVM-side with
    no cartesian blowup; pagerank's per-iteration joins hash-join."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    p1 = _plan(Q.pagerank_purchases_q(spark, sf))
    assert "EvalPython" not in p1 and "CartesianProduct" not in p1
    p2 = _plan(Q.curation_v2_q(spark, sf))
    assert "EvalPython" not in p2 and "CartesianProduct" not in p2


def test_round9_operators_plan_properties(spark):
    """Round-9 operators keep their intended physical shape."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # quality classifier: ONE narrow projection — no Python, no window;
    # the only exchanges are the output orderBy plus (on narrow local
    # scans only) the conditional fanout spread (r10 fanout audit)
    p1 = _plan(Q.quality_classifier_q(spark, sf))
    assert "EvalPython" not in p1 and "Window" not in p1
    assert p1.count("Exchange") <= 2
    # bloom probe: the bit set rides as a ONE-ROW broadcast map
    # (BroadcastNestedLoopJoin against a single aggregate row) — the
    # probed corpus itself never shuffles (the only exchange is the
    # output sort), and nothing is cartesian
    p2 = _plan(Q.bloom_dedup_q(spark, sf))
    assert "EvalPython" not in p2
    assert "BroadcastNestedLoopJoin" in p2
    assert "CartesianProduct" not in p2
    assert "Exchange hashpartitioning(doc_id" not in p2
    assert "SortMergeJoin" not in p2
    # HLL: two map-side-combined hash aggregates, no window, no Python
    p3 = _plan(Q.hll_distinct_q(spark, sf))
    assert "EvalPython" not in p3 and "Window" not in p3
    assert "HashAggregate" in p3
    # sequence chunks: in-row slicing — the only exchange sorts output
    p4 = _plan(Q.sequence_chunks_q(spark, sf))
    assert "EvalPython" not in p4
    assert p4.count("Exchange") <= 1


def test_quantile_and_decontaminate_plan_properties(spark):
    """The newest round-9 queries keep their physical shape."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # quantile sketch (r10 distributed-selection shape): the rank
    # window partitions by (range_partition, group) — NEVER by group
    # alone (the r9 hot-group funnel) — the per-partition offsets ride
    # back as a BroadcastHashJoin, and nothing is Python or cartesian
    p1 = _plan(Q.quantile_sketch_q(spark, sf))
    assert "EvalPython" not in p1
    assert "CartesianProduct" not in p1
    assert "windowspecdefinition(__pid" in p1
    assert "BroadcastHashJoin" in p1
    # exactly two: the broadcast offsets join plus the tiny
    # distinct-groups retention join (the fix for silently-vanishing
    # sample-missed groups)
    assert p1.count("Join") == 2
    # decontamination: bloom bits + exact check join broadcast; the
    # only sort-merge joins are the span self-join's gram joins
    p2 = _plan(Q.decontaminate_docs_q(spark, sf))
    assert "EvalPython" not in p2
    assert "BroadcastHashJoin" in p2
    assert "CartesianProduct" not in p2
    # curation_v3 (cap -> mix -> pack): Python-free, no cartesian; the
    # alloc and source tables ride back as broadcasts, never a
    # corpus-keyed sort-merge join
    p3 = _plan(Q.curation_v3_q(spark, sf))
    assert "EvalPython" not in p3
    assert "CartesianProduct" not in p3
    assert "BroadcastHashJoin" in p3
    assert "SortMergeJoin" not in p3


def test_nb_quality_score_plan_properties(spark):
    """NB bootstrap scorer: the trained model rides as a one-row
    broadcast map (BroadcastNestedLoopJoin) and the scoring pass adds
    no shuffle of the corpus; no Python anywhere."""
    from icelake_spark import queries as Q

    p = _plan(Q.nb_quality_score_q(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in p
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_round10d_operators_plan_properties(spark):
    """The round-10d additions keep their intended physical shape."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # DSIR: ratio table joins BROADCAST, selection is TakeOrdered, no
    # Python anywhere; the only sort-merge is the n_buckets-BOUNDED
    # raw-vs-target full-outer count join (full outer cannot broadcast)
    p1 = _plan(Q.dsir_select_q(spark, sf))
    assert "EvalPython" not in p1
    assert "BroadcastHashJoin" in p1 and "TakeOrdered" in p1
    assert p1.count("SortMergeJoin") <= 1
    # ccnet buckets: NO corpus window keyed by the language — the rank
    # window must be keyed by the range-partition id (the _global_ranks
    # funnel discipline); offsets join broadcast
    p2 = _plan(Q.ccnet_buckets_q(spark, sf))
    assert "EvalPython" not in p2
    assert "windowspecdefinition(__pid" in p2
    assert "BroadcastHashJoin" in p2
    # hybrid RRF: both lanes end in their own top-k before fusion, the
    # fused relation is k-bounded, no sort-merge join anywhere
    p3 = _plan(Q.hybrid_rrf_q(spark, sf))
    assert "EvalPython" not in p3
    assert "SortMergeJoin" not in p3
    assert "TakeOrdered" in p3
    # funnel: every stage is a min-aggregate (no collect_list buffers),
    # no Python
    p4 = _plan(Q.events_funnel_q(spark, sf))
    assert "EvalPython" not in p4
    assert "collect_list" not in p4
    # retention: the cohort-size table joins broadcast; no Python
    p5 = _plan(Q.events_retention_q(spark, sf))
    assert "EvalPython" not in p5
    assert "BroadcastHashJoin" in p5
    # PQ encode+score: one narrow pass ending in TakeOrdered — the ADC
    # lookup is in-row literal arrays, never a join against the corpus
    p6 = _plan(Q.pq_adc_topk_q(spark, sf))
    assert "EvalPython" not in p6
    assert "TakeOrdered" in p6
    assert "SortMergeJoin" not in p6 and "Join" not in p6
    # corpus report: ONE hash aggregate, zero joins, zero windows
    p7 = _plan(Q.corpus_report_q(spark, sf))
    assert "EvalPython" not in p7 and "Window" not in p7
    assert "Join" not in p7 and "HashAggregate" in p7


def test_ivf_pq_topk_plan_properties(spark):
    """IVFADC keeps its intended physical shape (review r11: the most
    complex plan in the similarity module gets a pin like every other
    nontrivial operator): the probed-cell scoring pass is one narrow
    in-row scan of the checkpointed residual frame — no Python in the
    portable lane, no join against the corpus, no sort-merge anywhere,
    and the top-k is TakeOrdered (never a global sort)."""
    from icelake_spark import queries as Q

    p = _plan(Q.ivf_pq_topk_q(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in p
    assert "TakeOrdered" in p
    assert "SortMergeJoin" not in p and "Join" not in p
    assert "Exchange" not in p  # cell filter + ADC ride the scan
    # §V re-rank: the k'-row shortlist joins BROADCAST against the
    # corpus scan (a k'-bounded point-fetch, never a shuffle join),
    # and both stages' top-k/top-k' are TakeOrdered
    pr = _plan(Q.ivf_pq_rerank_q(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in pr
    assert "BroadcastHashJoin" in pr
    assert "SortMergeJoin" not in pr
    assert "TakeOrdered" in pr


def test_r11_new_operators_plan_properties(spark):
    """Round-11 operator additions keep their intended shapes."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    # event_paths: the lag window is partitioned BY USER (a power user
    # is one task, never a global sort), pair counts hash-aggregate,
    # top-k is TakeOrdered; no Python
    p1 = _plan(Q.event_paths_q(spark, sf))
    assert "EvalPython" not in p1
    assert "windowspecdefinition(user_id" in p1
    assert "TakeOrdered" in p1
    # heavy_hitters: the d*w sketch and the one-row total join
    # BROADCAST against the threshold survivors; no sort-merge join
    p2 = _plan(Q.heavy_hitters_q(spark, sf))
    assert "EvalPython" not in p2
    assert "BroadcastHashJoin" in p2 or "BroadcastNestedLoopJoin" in p2
    assert "SortMergeJoin" not in p2
    # embedding_covariance portable lane: pure JVM (the explode +
    # decimal aggregate), dim-bounded broadcast joins
    p3 = _plan(Q.embedding_covariance_q(spark, sf))
    assert "EvalPython" not in p3
    assert "BroadcastHashJoin" in p3
    # split_by_group: the split itself is a pure projection — the
    # summary's single aggregate is the only exchange pair, no joins,
    # no windows, no Python
    p4 = _plan(Q.split_by_group_q(spark, sf))
    assert "EvalPython" not in p4 and "Join" not in p4
    assert "Window" not in p4


def test_histogram_and_hard_negatives_plan_properties(spark):
    """The r11 tail additions keep their shapes: histogram quantile
    selection windows over BIN rows only (partitioned by the group —
    never a corpus-row window), hard_negatives joins its anchors
    broadcast and ranks per-anchor partitions; no Python in either."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    p1 = _plan(Q.histogram_quantiles_q(spark, sf))
    assert "EvalPython" not in p1
    assert "windowspecdefinition(o_orderstatus" in p1
    assert "BroadcastHashJoin" in p1
    p2 = _plan(Q.hard_negatives_q(spark, sf))
    assert "EvalPython" not in p2
    assert "BroadcastNestedLoopJoin" in p2 or "BroadcastHashJoin" in p2
    assert "SortMergeJoin" not in p2
    # the salted two-stage top-N (VERDICT r11): stage one MUST rank
    # within (anchor_id, __salt) — a window partitioned by anchor_id
    # alone funnels corpus/n_anchors rows into one task — and the
    # final per-anchor window exists too (over <= n_salts*k survivors)
    assert "windowspecdefinition(anchor_id" in p2
    specs = [seg.split(" DESC", 1)[0]
             for seg in p2.split("windowspecdefinition(anchor_id#")[1:]]
    assert any("__salt" in s for s in specs), \
        "no (anchor_id, __salt)-partitioned stage-one window"
    assert any("__salt" not in s for s in specs), \
        "final per-anchor window missing"


def test_novelty_and_outliers_plan_properties(spark):
    """ngram_novelty: only gram hashes shuffle (text stays in the
    scan), one left join, no Python; embedding_outliers: in-row
    assignment + TakeOrdered, no joins, no Python."""
    from icelake_spark import queries as Q

    sf = "/root/testdata/sf0.001"
    p1 = _plan(Q.ngram_novelty_q(spark, sf))
    assert "EvalPython" not in p1
    p2 = _plan(Q.embedding_outliers_q(spark, sf))
    assert "EvalPython" not in p2
    assert "TakeOrdered" in p2
    assert "Join" not in p2
    # one exchange only: the fanout repartition (assignment must not
    # run inside a one-task scan); no shuffle for the top-k
    assert p2.count("Exchange") <= 2  # fanout + AQE final stage


def test_event_attribution_plan_properties(spark):
    """event_attribution keeps its shape: one per-user window (no
    corpus-wide window partition), a broadcast one-row total, no
    Python, no sort-merge join."""
    from icelake_spark import queries as Q

    p = _plan(Q.event_attribution_q(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in p
    assert "SortMergeJoin" not in p
    assert "windowspecdefinition(user_id" in p
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p


def test_containment_pairs_plan_properties(spark):
    """containment_pairs mirrors the jaccard lane's scale shape: text
    bytes never shuffle (the exchange carries 8-byte gram hashes +
    counts only), no Python anywhere, and the provable nb >= t*na
    prune sits BELOW the aggregation so it cuts candidates before the
    groupBy, not after."""
    from icelake_spark import queries as Q

    p = _plan(Q.containment_pairs_q(spark, "/root/testdata/sf0.001"))
    assert "EvalPython" not in p
    o = _optimized(Q.containment_pairs_q(spark, "/root/testdata/sf0.001"))
    # Catalyst folds the nb >= t*na prune INTO the join condition (the
    # best placement: rows die during the probe, before the groupBy);
    # pin that it stays there and never floats above the Aggregate
    join_pos = o.find("Join Inner")
    assert join_pos > 0
    join_line = o[join_pos:o.index("\n", join_pos)]
    assert "* 0.6" in join_line, join_line
    assert o.find("Aggregate") < join_pos  # agg above, prune below


def test_pca_projection_plan_properties(spark):
    """pca_project's distributed footprint: the projection is an
    in-row integer fold with the direction as a LITERAL array (no join
    against a direction table), the top-k is one window over scored
    ids (8-byte scores — embeddings dropped before the sort), and no
    Python runs anywhere in the portable lane."""
    from icelake_spark import queries as Q

    df = Q.pca_projection_q(spark, "/root/testdata/sf0.001")
    p = _plan(df)
    assert "EvalPython" not in p
    # the scored relation carries (vec_id, score) only — the embedding
    # array must not survive into the window exchange
    import re as _re
    win = p[p.find("Window"):]
    assert "embedding" not in win.split("\n")[0]
