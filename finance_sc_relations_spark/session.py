"""SparkSession factory tuned for the KG-construction workload.

Design notes for 100 TB / 1000-executor scale (tested here on local[N]):

- AQE on: runtime coalescing of the many small post-filter partitions and
  skew-join splitting for the hot-company linking join.
- Arrow on with a bounded batch size: every model stage is a pandas UDF; the
  Arrow batch is the unit of vectorized work (reference analog: spaCy
  chunk_size=20000 / batch_size=1000, src/language_model/spacy_loader.py:358-391).
- shuffle.partitions defaults to 2x cores locally; on a real cluster this is
  overridden by AQE coalescing + explicit repartition before model stages.
- Dynamic partition overwrite so stage re-runs only replace the partitions
  they recompute (reference analog: wr.s3.to_parquet mode=overwrite_partitions,
  src/sagemaker/re_inference.py:148-171).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "finance-sc-relations-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    arrow_max_records: int = 10_000,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] -> N slots; 2x gives AQE room to coalesce without starving.
        n = cpus if "local" in master else 200
        shuffle_partitions = max(2 * n, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE coalesce a persisted frame's final shuffle too (default
        # false keeps every cached frame at shuffle.partitions partitions).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true"
        )
        # Prefer shuffled-hash over sort-merge when size conditions are met
        # (guide §3.1/§9): the engine's join build sides are bounded
        # (dictionaries, signature tables, stats rows) while probe sides can
        # be enormous enumeration streams (near-dup pair expansion) — SHJ
        # streams them unsorted, where SMJ would sort the multi-100M-row
        # side. The AQE threshold additionally rewrites SMJ->SHJ at runtime
        # when every post-shuffle build partition is small.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.sql.execution.arrow.maxRecordsPerBatch", str(arrow_max_records)
        )
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "10g"))
        # Long single-JVM sessions (the bench runs ~35 queries x 3 reps in
        # one app) accumulate dead broadcast relations and localCheckpoint
        # blocks: ContextCleaner only frees them after a JVM GC collects
        # their weak references, and the default periodic GC interval is
        # 30min — measured filling an 8g heap to OOM before the
        # high-peak-demand queries late in the suite. 2min keeps the
        # cleaner fed; production clusters with per-executor heaps are
        # unaffected (the GC is cheap when there is nothing to collect).
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
