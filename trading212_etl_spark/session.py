"""SparkSession construction with scale-sane defaults.

The reference (trading212.py) has no session concept — it is an eager
single-threaded pandas script. Here every query runs through one
lazily-built SparkSession configured for:

- **AQE** (adaptive query execution): runtime shuffle-partition
  coalescing, skew-join splitting, and join-strategy demotion — the
  levers that keep plans healthy when the same code moves from
  local[32]/sf0.1 to a 1000-executor cluster at 100 TB.
- **UTC session timezone**: required for value-parity with the DuckDB
  oracle (DuckDB timestamps are UTC-naive).
- **Arrow**: vectorized pandas<->Spark transfer for the few
  Pandas-UDF-backed operators (multimodal decode).
- **A codegen class cache sized to the registry**: 4096 generated
  classes instead of Spark's 100, so queries served repeatedly from
  one session reuse their compiled code instead of recompiling it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "trading212_etl_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``shuffle_partitions`` defaults to core count for local mode; on a
    real cluster you would size it to ~2-3x total executor cores and
    let AQE coalesce down (``advisoryPartitionSizeInBytes`` governs).

    Static confs (the codegen cache size, ``spark.driver.memory``) only
    take effect when this call starts the SparkContext; a call that
    finds one already running cannot change them.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    n_shuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # -- adaptive execution: the 100 TB safety net ---------------
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # -- shuffle sizing ------------------------------------------
        .config("spark.sql.shuffle.partitions", str(n_shuffle))
        # 128 MB input splits: a 100 TB table fans out to ~800k tasks,
        # which a 1000-executor cluster digests; bigger splits risk
        # executor OOM on wide rows.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # zstd for parquet writes: ~25-30% smaller files than snappy
        # at comparable scan speed — at 100 TB that is tens of TB of
        # storage and proportional scan I/O; decode cost is amortized
        # by columnar batch reads. (Snappy remains the Spark default
        # only for historical compatibility.)
        .config("spark.sql.parquet.compression.codec", "zstd")
        # -- oracle determinism --------------------------------------
        .config("spark.sql.session.timeZone", "UTC")
        # -- python interop ------------------------------------------
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # -- status-store retention ----------------------------------
        # The app/SQL status listeners run even with the UI off, and
        # their defaults retain 1000 executions' full plan graphs plus
        # 1000 jobs / 1000 stages / 100k tasks. A long-lived engine
        # session (the bench loop, a notebook, a driver daemon) runs
        # hundreds of large-plan queries, so listener bookkeeping grows
        # into a per-job tax on LATER queries (measured ~15-20% on the
        # checkpoint-heavy curation pipeline by query #30). These jobs
        # are not a monitoring UI's audience; retain a small window.
        .config("spark.sql.ui.retainedExecutions", "50")
        .config("spark.ui.retainedJobs", "100")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "10000")
        # -- generated-class cache -----------------------------------
        # Spark keeps the classes it generates and compiles (codegen
        # stages, projections, orderings) in an LRU of 100 entries.
        # The registry's working set is far larger: a whole-registry
        # pass at sf0.01 compiles ~2,900 distinct classes, the
        # ten-entry analytics mix alone ~250 per round.
        # An LRU smaller than a cyclic working set gets almost no
        # hits, so every repeat of a query recompiled its classes
        # (~4,300 of ~4,360 on a second registry pass; 247 per steady
        # mix round). 4096, the next power of two, holds the whole
        # registry for ~22 MB more metaspace. Static conf: fixed when
        # the context starts.
        .config("spark.sql.codegen.cache.maxEntries", "4096")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
