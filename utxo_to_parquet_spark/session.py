"""SparkSession factory tuned for this engine.

Local-mode defaults follow the driver environment (local[32], single JVM).
The same config block is what we would submit to a real cluster, minus the
master/memory settings which come from the cluster manager there.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Spark's generated-code cache (spark.sql.codegen.cache.maxEntries)
# defaults to 100 classes. One pass of perfbench's 7 analytics queries
# generates about 200, so at the default every warm pass evicted and
# recompiled what the pass before it compiled. Measured on sf0.01 with 2
# cores and a 4 GB heap, 5 passes in one session: at 100, every warm
# pass recompiled 183-186 classes in 1.4-1.9 s of Janino time; at 2000,
# a warm pass compiles 0-12 classes in 0-0.3 s, all of them in
# q_dedup_minhash_search. The first pass compiles ~200 either way. Heap
# after GC (112 -> 115 MB) and metaspace (167 -> 168 MB) stayed flat.
# 2000 holds about ten such working sets.
CODEGEN_CACHE_ENTRIES = 2000


def get_spark(app_name: str = "utxo_to_parquet_spark", *, shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-aware defaults.

    - AQE on: runtime coalescing, skew-join splitting, dynamic join strategy.
    - shuffle.partitions sized to cores locally; on a real cluster AQE
      coalesces from a high initial number, so the exact value matters less.
    - Arrow enabled for all pandas interchange (the only Python<->JVM data
      path we use).
    - UTC session timezone so results are comparable across engines.
    - A generated-code cache sized to hold the session's compiled queries
      (``CODEGEN_CACHE_ENTRIES``). It is a static conf: it only takes
      effect when this call creates the JVM's first session; a later
      call that reuses or re-creates a session in the same JVM keeps
      the cache the first one sized.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Python UDTFs evaluate row-at-a-time (BatchEvalPythonUDTF) by
        # default; this flips them to Arrow batches like every other
        # Python exchange in the library (found by tools/plan_audit.py)
        .config("spark.sql.execution.pythonUDTF.arrow.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # runtime bloom-filter pushdown: build a bloom filter from the
        # filtered build side of a shuffle join and prune the probe-side
        # scan — irrelevant at test scale, a large win on 100 TB facts
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
    )
    # Opt-in shuffle/spill directory (e.g. tmpfs): on this bench host the
    # virtual disk stalls unpredictably (bench.py documents 1-13 s swings
    # for the same 79 MB write), and shuffle-heavy converts at mainnet
    # depth spend most of their wall time in those stalls rather than in
    # the engine. A real cluster's shuffle lands on node-local NVMe; the
    # gsort bench models that with SPARK_GRAFT_LOCAL_DIR=/dev/shm/... —
    # must be set before the first session of the process (the JVM reads
    # spark.local.dir once at startup).
    local_dir = os.environ.get("SPARK_GRAFT_LOCAL_DIR")
    if local_dir:
        builder = builder.config("spark.local.dir", local_dir)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
