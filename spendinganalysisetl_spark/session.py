"""SparkSession factory.

Config rationale (SURVEY.md §4 "Config defaults for the port"):

- AQE on (runtime re-plan: partition coalescing, skew-join splitting,
  sort-merge→broadcast conversion) — the scale path for 100 TB inputs.
- ``spark.sql.session.timeZone=UTC`` pinned so timestamp semantics match
  the DuckDB oracle (DuckDB timestamps are UTC-naive).
- Arrow enabled for every pandas interchange (pandas_udf / mapInPandas /
  toPandas) — batch transfer instead of per-row pickling.
- ``spark.sql.shuffle.partitions`` sized to local cores; on a real
  cluster AQE's coalescePartitions makes the static value mostly a cap.

The reference has no session concept (eager single-process pandas,
/root/reference/transformer.py throughout); this factory is the port's
single entry to configured execution.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The cores this process may run on (its CPU affinity mask, which
# os.cpu_count ignores); SPARK_GRAFT_CPUS overrides it.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def get_spark(
    app_name: str = "spendinganalysisetl_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Local-mode only knobs (driver memory) are set defensively; on a real
    cluster the same conf is valid and the resource manager overrides
    sizing.
    """
    n = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Heap sized for the machine class (128 GiB box): at 8g a long
        # 100+-query session spends a measurable share of wall-clock in
        # GC — the full sf0.1 bench dropped 55.9s → 48.3s (stream drain
        # alone 3.3s → 1.3s) from this one change. Local mode puts all
        # executor threads in the driver JVM, so this is executor sizing
        # too; a real cluster sets spark.executor.memory instead.
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # Wide-expression plans (pivot, minhash signatures) generate a lot
        # of whole-stage-codegen classes; the JVM default 240m code cache
        # fills after a few dozen distinct plans and JIT flushing then
        # de-optimizes hot loops. Size it for a resident analytics server.
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=1g -XX:+UseCodeCacheFlushing",
        )
        .config("spark.ui.enabled", "false")
        # Auto-broadcast stays at the 10 MB default: the earlier 64 MB
        # setting made Catalyst broadcast a 6M-row LINEITEM projection
        # as the build side of Q3/Q4/Q21 at the 10× bench scale (a
        # fact-table broadcast — the exact plan that dies at 100 TB;
        # caught by the sf1 bench, round 4). Dimensions are broadcast
        # via explicit F.broadcast() hints throughout, and AQE still
        # upgrades shuffle joins to broadcast from RUNTIME sizes, which
        # is the safe direction — estimates can only defer a broadcast,
        # never commit to an oversized one.
        .config("spark.sql.autoBroadcastJoinThreshold", str(10 * 1024 * 1024))
        # ObjectHashAggregate (collect_list/collect_set/percentile/map
        # aggs) falls back to SORT-based aggregation once a task's hash
        # map exceeds this many keys — and the Spark default is 128,
        # so any object aggregation with more than 128 groups per task
        # silently becomes a full sort of its input stream: the exact
        # SortAggregate trap of guide §2/§5, but invisible in the plan
        # (the node still prints ObjectHashAggregate). Measured r12 on
        # the minhash shingle-digest build (collect_list over a
        # 35M-row exploded stream into 50k groups, sf1): 47 s at the
        # default vs 7.3 s cold / 2.1 s warm at 128Ki. 128Ki keys/task
        # is an executor-memory bound, not a data-scale bound: past it
        # the sort fallback still protects memory exactly as before.
        .config(
            "spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
            str(128 * 1024),
        )
        # Scan-split sizing, parameterized (r12, VERDICT r11 ask #4;
        # guide §6.1). Measured on the multi-file sf1 layout
        # (BENCH_AB_r12_maxpartitionbytes.jsonl): at local scales the
        # effective split is governed by the PARALLELISM FLOOR
        # (maxSplitBytes = min(maxPartitionBytes, max(openCost,
        # totalBytes/defaultParallelism))) — lineitem scans plan 31
        # splits at EVERY setting from 4m to 512m, totals within noise
        # (3.3–3.8 s) — so the default cannot hurt here. With the floor
        # forced off (minPartitionNum=1) the real trade appears:
        # splits larger than per-core work degrade scan-bound queries
        # 2–2.7× (q1 0.49 s at 31 splits → 1.25 s at 2), while per-task
        # overhead stays negligible down to 3.4 MB splits. Conclusion:
        # locally the binding constraint is parallelism, not task
        # overhead; raising the value toward the guide's 512m–1g is a
        # CLUSTER move (fewer map tasks feeding shuffles, §2.2, and
        # fewer listing/scheduling events at 100 TB file counts), so it
        # ships as an env knob with the Spark default left in place.
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"),
        )
        # The driver-generated events.parquet stores TIMESTAMP(NANOS),
        # which Spark's parquet converter rejects natively; read nanos as
        # long and convert in catalog.load_table (exact integer ns→µs).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Stateful streaming state lives in RocksDB, not the default
        # in-heap HDFSBackedStateStore: at 100× the session-window /
        # running-distinct / interval-join topologies the per-executor
        # state exceeds heap, and RocksDB keeps it on local SSD with
        # bounded memory (the §2.9 scale answer). Changelog
        # checkpointing uploads per-batch deltas instead of full
        # SST snapshots — the restart-fast setting for long-lived
        # production streams. Batch plans ignore both keys.
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .config(
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled",
            "true",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
