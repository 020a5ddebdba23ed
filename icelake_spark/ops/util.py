"""Shared helpers for the ops layer."""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


_CONF_LOCK = threading.RLock()


@contextmanager
def scoped_conf(spark, key: str, value: str):
    """Set a runtime SQL conf around an EAGER action and restore it on
    exit. Used to scope spark.sql.adaptive.enabled=false around the
    bounded training aggregates (VERDICT r13 #5): each Lloyd-iteration
    collect is a 2-stage job whose reduce side is a few hundred groups,
    so AQE's per-exchange re-plan round is pure latency there — while
    AQE must stay ON for everything data-dependent. No-op when the conf
    already holds the value. NOT for lazy frames returned to callers:
    the conf must be active when the job RUNS, not when it is built.

    A scope that changes the conf holds a module lock from its check to
    its restore: of two overlapping scopes (delta._overlap's threads)
    the second would otherwise skip, seeing the first one's value,
    and lose it to the first one's restore."""
    with _CONF_LOCK:
        prev = spark.conf.get(key, None)
        changes = prev != value
        if changes:
            spark.conf.set(key, value)
            try:
                yield
            finally:
                if prev is None:
                    spark.conf.unset(key)
                else:
                    spark.conf.set(key, prev)
    if not changes:
        yield


def fanout(df: DataFrame, *cols, factor: int = 2) -> DataFrame:
    """Repartition with an EXPLICIT partition count to spread
    compute-bound work across every core.

    `repartition(col)` alone lets AQE coalesce by shuffle BYTES — a few
    MB of documents collapse to one partition even when each row costs
    milliseconds of regex/hash work downstream (AQE can't see compute
    cost). An explicit count pins the fan-out. factor=2 over the
    cluster's default parallelism keeps tasks small enough for stragglers
    to balance without drowning the scheduler; on a real cluster
    defaultParallelism scales with executors, so this stays proportional
    at any size.

    At 100 TB the input already arrives in tens of thousands of splits,
    and an unconditional repartition becomes a gratuitous full shuffle
    of the corpus bytes — the most expensive possible no-op. So the
    fan-out is CONDITIONAL: if the input already has >= the target
    partition count, pass it through untouched (the small-input case
    the docstring above argues for simply never fires at scale).

    The partition probe itself (`df.rdd.getNumPartitions()`) forces a
    physical-plan translation per call — cheap interactively, wasteful
    in a pipeline that calls fanout hundreds of times on inputs known
    to be wide. Set `spark.icelake.fanout.enabled=false` to make every
    fanout a static pass-through (no probe, no shuffle); default true
    keeps the adaptive behavior.
    """
    spark = df.sparkSession
    if spark.conf.get("spark.icelake.fanout.enabled", "true") == "false":
        return df
    n = spark.sparkContext.defaultParallelism * factor
    try:
        if df.rdd.getNumPartitions() >= n:
            return df
    except Exception:
        pass  # plans that can't cheaply answer (e.g. streaming) still fan out
    if cols:
        return df.repartition(n, *cols)
    return df.repartition(n)


def pin_filter(df: DataFrame, cond) -> DataFrame:
    """Filter that predicate pushdown cannot migrate below an exchange.

    Catalyst pushes deterministic predicates through repartition, so an
    expensive gate placed after fanout() (the whole point: run the
    regex/tokenize work on every core) silently slides back into the
    single-split scan stage and serializes (measured: curation_pipeline
    paid a 1.3 s one-task stage for its quality gate at sf0.1).
    XOR-ing the condition with a nondeterministic always-false term
    makes the predicate nondeterministic — un-pushable and un-splittable
    (a plain AND conjunct would be split and its deterministic half
    pushed anyway) — without changing its value: cond != FALSE == cond,
    and a NULL cond stays NULL (row dropped) in both forms. The term is
    `spark_partition_id() < 0` (always false, costless, retry-safe —
    the value never matters): rand()-based terms do NOT survive, the
    optimizer folds comparisons of rand against out-of-range literals.

    At scale fanout() passes wide inputs through untouched, there is no
    exchange to cross, and the pinned filter runs exactly where the
    plain one would — the barrier only matters in the
    narrow-input-many-cores regime it exists for. Use it ONLY for
    expensive compute gates: a cheap pushable predicate (partition or
    zone-map prunable) must stay pushable."""
    return df.where(cond != (F.spark_partition_id() < F.lit(0)))


def salted_first_n(df: DataFrame, bucket_col: str, id_col: str, n: int,
                   n_salts: int = 16) -> DataFrame:
    """Skew-safe first-N-by-id per bucket: the two-stage salted cap.

    A single `row_number().over(partitionBy(bucket).orderBy(id))` window
    funnels the HOT bucket — the one the cap exists to defuse (a
    boilerplate-heavy corpus collapsing millions of docs into one LSH
    band value) — into ONE task, which must sort the entire bucket
    (rows carrying a 64-long signature or a full embedding vector)
    before discarding all but `n` rows. At 100x scale that is a
    multi-gigabyte single-task sort exactly when the guard matters.

    Stage one ranks within (bucket, __salt) — `n_salts` parallel tasks
    per bucket, each keeping at most `n` lowest ids — so the final
    per-bucket window sees at most n_salts*n survivors. First-N-by-id
    is subset-stable under salting (the global first-N of a set is
    always a subset of the union of per-salt first-Ns), so the output
    is BIT-IDENTICAL to the single-window shape the oracle computes.
    The salt derives from the id (xxhash64 mod n_salts), never from
    monotonically_increasing_id — deterministic under task retry.

    Same discipline as inverted_index's posting cap (ranking.py) and
    hard_negatives' per-anchor top-k (similarity.py); this helper is
    the shared form for the LSH-bucket cap sites (VERDICT r12).
    """
    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")), F.lit(n_salts))
    w1 = Window.partitionBy(bucket_col, "__salt").orderBy(F.col(id_col))
    w2 = Window.partitionBy(bucket_col).orderBy(F.col(id_col))
    return (df.withColumn("__salt", salt)
            .withColumn("__r1", F.row_number().over(w1))
            .where(F.col("__r1") <= n)
            .withColumn("__rn", F.row_number().over(w2))
            .where(F.col("__rn") <= n)
            .drop("__salt", "__r1", "__rn"))
