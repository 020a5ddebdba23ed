"""icelake_spark: a PySpark-native Apache Iceberg table engine.

A from-scratch rebuild of the capabilities of icelake-io/icelake
(reference at /root/reference, studied for behavior only) on top of
Spark DataFrames: table-format metadata/manifests, snapshot-pinned
scans, transactional appends, merge-on-read deletes, CDC upsert,
partition transforms, maintenance — plus large-scale data-pipeline
operators (dedup, similarity search, text analysis, multimodal).
"""

from .catalog.storage import StorageCatalog  # noqa: F401
from .sql import execute as sql_execute, merge_into  # noqa: F401
from .table import IcebergTable, TableScan  # noqa: F401

__version__ = "0.1.0"


def default_session(app_name: str = "icelake_spark",
                    cpus: str | int | None = None,
                    shuffle_partitions: int = 32):
    """Build a SparkSession tuned for this engine (UTC, AQE, Arrow) on
    local[cpus]; SPARK_GRAFT_CPUS (else all cores) is the default."""
    import os

    from pyspark.sql import SparkSession

    if cpus is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # runtime skew-join splitting is the first line of defense for
        # hot join keys at scale; ops.skew handles what AQE can't
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # preferSortMergeJoin stays at its DEFAULT (true). r13 flipped
        # it to false (guide §3.1's SHJ option); the r14 dedicated
        # toggle A/B mandated by VERDICT r13 #4 (5 reps per mode, both
        # orderings, 12 join-heavy lanes, quiet host) read the flip
        # NEGATIVE: SMJ wins min-of-5 on 10/12 lanes — events_sessionize
        # 1.21x, minhash 1.20x, range_join 1.16x, asof_join 1.13x,
        # skew_salted_join 1.07x (1.35x median) — and is a wash on the
        # AQE-broadcast TPC-H joins. Reverted; SHJ remains available
        # per-join via the SHUFFLE_HASH hint where a build side is
        # provably small, without the session-global estimated-size OOM
        # risk. (OPTIMIZATION_r14.md Task 2 has the table.)
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # int64 micros is the Iceberg-spec timestamp encoding; Spark's
        # INT96 default also records NO parquet min/max statistics, so
        # every timestamp column lost its zone-map bounds and time-range
        # predicates never pruned a file (review r13)
        .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
        # InferFiltersFromGenerate synthesizes `size(g) > 0 AND
        # isnotnull(g)` below every explode(g) — and when g is a COMPUTED
        # array (shingles/tokens: split + zip_with + array_distinct over
        # full text), that filter RE-EVALUATES the whole expression once
        # per row just to discard empties the Generate would drop anyway:
        # every shingle lane tokenized the corpus twice. Worse, predicate
        # pushdown drags the duplicate below the fanout exchange into the
        # scan stage, serializing it on single-split inputs. Excluding
        # the rule removes the duplicate compute pass at ANY scale
        # (measured r13: minhash −29%, ngram_jaccard −29%, containment
        # −46% at sf0.1, identical output); rows with empty arrays still
        # vanish at the Generate itself. The repo's explode sites that
        # WOULD benefit from the inferred prune (NULL stored arrays) all
        # filter explicitly (valid_vectors / IS NOT NULL guards).
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .getOrCreate()
    )
