"""SparkSession factory tuned for the fuel_spark workload.

Single place where execution knobs live so tests, bench, and the
driver entry point all run the same configuration.  Defaults target
the local[32] test harness but are chosen to scale: AQE handles
runtime re-planning (partition coalescing, skew-join splitting) on a
real cluster, and the broadcast threshold covers the dimension tables
of a TPC-H-ish star schema at any scale factor.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CONF = {
    # Adaptive execution: runtime partition coalescing + skew-join
    # splitting. At 100 TB this is what keeps reducer partitions sized
    # to memory without hand-tuning per-query.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # r11: let AQE coalescing apply to CACHED plan output too.  With
    # the default (false) a .cache() freezes its plan at full
    # spark.sql.shuffle.partitions width, so the iterative loops
    # (connected components, pagerank) ran every per-iteration stage
    # 32-64 tasks wide over kilobyte label frames — pure per-task
    # overhead (profiled: linkage's six hottest stages were 64 tasks
    # over 0.1 MB).  With the flag on the loop width tracks data size
    # at ANY scale — the guide's "scale-adaptive partitioning, not a
    # constant" (§2).  Interleaved 7-rep A/B (OPTIMIZATION_r11.md):
    # linkage_pipeline 7/7 wins, median 6.69->4.32s; textrank and the
    # data-scaled part_pagerank par-to-better; outputs identical.
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
    # Dims are broadcast via explicit broadcast() hints in the query
    # library (hints override this threshold), so the automatic bar
    # stays conservative: a column-pruned FACT scan can estimate under
    # a generous threshold and get broadcast — measured on the 10x
    # scale smoke, where 6M lineitem rows were hash-broadcast at 64 MB.
    # 16 MB keeps small true dims automatic and facts shuffling.
    "spark.sql.autoBroadcastJoinThreshold": str(16 * 1024 * 1024),
    # Joins (optimization guide §9/§3.1): let the planner pick a
    # shuffled hash join when its size conditions are met instead of
    # always sort-merge — skips both sort passes on every
    # shuffle-join.  Measured r10 on the join-heavy headliners
    # (best-of interleaved reps): pretrain_pipeline 7.04->6.57s,
    # linkage_pipeline 6.04->5.52s, dedup_edit_distance 5.73->5.27s,
    # no query slower.  Scale-safe: Spark only chooses SHJ when the
    # per-partition build side fits its size gate (and AQE can still
    # rewrite at runtime), so this is a planner PREFERENCE, not a
    # forced strategy — the 100 TB fallback remains sort-merge.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Arrow for every pandas interchange (multimodal ops, toPandas).
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Deterministic timestamp semantics for the DuckDB oracle.
    "spark.sql.session.timeZone": "UTC",
    # 128 MB split targets: big enough to amortize task overhead,
    # small enough that a scan task's working set fits executor memory.
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.compression.codec": "zstd",
    # Source data carries TIMESTAMP(NANOS) (unsupported natively);
    # read as int64 ns and convert at load (sources/tables.py).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
}


def get_spark(
    app_name: str = "fuel_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or get) a SparkSession with fuel_spark defaults.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, else 32)
    so the same code runs unchanged under the driver harness; on a real
    cluster, pass ``master=None`` with ``spark.master`` preset and this
    only applies SQL conf.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", cpus))

    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(DEFAULT_CONF)
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    # local mode runs everything in the driver JVM; the 1g default is
    # the first thing to fall over under a 32-thread shuffle. Applied
    # at JVM launch (no-op if a session already exists).
    conf.setdefault(
        "spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
