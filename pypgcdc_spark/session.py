"""SparkSession factory with engine defaults tuned for the target scale.

Local testing runs ``local[N]``; the same settings are what we'd ship in
``spark-defaults.conf`` on a 1000-executor cluster: AQE on (runtime
coalesce + skew-join splitting), broadcast threshold generous enough to
keep dimension tables out of shuffles, Arrow enabled for the Pandas-UDF
extension operators, UTC session time so results are oracle-comparable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pypgcdc_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or os.cpu_count() or 4
    return configure(
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Extra JVM flags for the (lazily launched) local JVM — e.g. the
        # soak passes -Xss64m after a java.util.regex StackOverflowError
        # on the stream execution thread at 5M-row log volumes killed the
        # query mid-batch (regex match depth is stack-bound; the default
        # thread stack caps it around ~100 KB of input).
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SPARK_DRIVER_JAVA_OPTIONS", ""),
        )
        .config("spark.ui.enabled", "false")
        # local[] has exactly one executor: waiting for data locality is
        # pure scheduler latency (measured ~0.15s/job on slow-timer VMs).
        # Cluster deployments keep the default wait — this is local-only.
        .config("spark.locality.wait", "0s")
        # ContextCleaner only frees dead broadcasts / shuffle files /
        # localCheckpoint blocks when a JVM GC runs; a many-query session
        # with a roomy heap may not GC for a long time, so block-manager
        # state accumulates and iterative operators degrade (measured 2-5×
        # on the bench suite). Default periodic GC is 30min — far longer
        # than a whole test session; 5min keeps the cleaner live without
        # injecting full-GC pauses into individual queries (the bench
        # additionally GCs between timed queries).
        .config("spark.cleaner.periodicGC.interval", "5min")
    ).getOrCreate()


def configure(builder):
    """Engine config knobs that are scale-relevant, not local-only."""
    return (
        builder.config("spark.sql.adaptive.enabled", "true")
        # Task commits move files directly into place (v2) instead of the
        # two-step task->job rename (v1): measured 2x on many-partition
        # partitioned writes (r12 dir-cost probe: 2048-dir write 18.5s ->
        # 10.8s).  Atomicity of the engine's state commits never rests on
        # the committer — the two protocols above the write provide it:
        # the manifest rename for private maintainer state
        # (atomic_state.py) and the staged two-rename relayout for the
        # merger's public table (relayout.py).
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # Split-packing open cost: the 4 MB default models slow-open
        # remote filesystems and caps a small table's scan parallelism at
        # size/4MB tasks regardless of cores.  1 MB keeps tiny-file
        # packing conservative at scale (maxPartitionBytes still caps
        # split size) while letting MB-scale tables use the cluster:
        # measured r12 at sf0.1, q1 1.16→0.89 s, q9 −11%, q18 −8%.
        .config("spark.sql.files.openCostInBytes", "1m")
        # Streaming state: RocksDB provider — bounded executor memory and
        # incremental (changelog) checkpoints; the required choice once
        # stateful-operator state outgrows the JVM heap (session windows /
        # applyInPandasWithState over high-cardinality keys at 100 TB).
        .config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        # Changelog checkpointing: per-batch checkpoint cost becomes
        # O(batch delta) instead of O(state snapshot) — the documented
        # production mode for RocksDB state at any scale.  Measured r12:
        # state-store commit time −40..65% on every stateful shape
        # (dedup drain 2.06→1.20 s wall, running-stats 4.8→3.9 s,
        # interval join commit_sum 8.8→6.4 s), results bit-identical.
        .config(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
            "true",
        )
        # Exact state-row counts cost a read-modify-write per update and
        # only feed the numRowsTotal metric; the engine's correctness
        # never reads it.  Off is the documented setting for
        # update-heavy state (verified identical drained output).
        .config(
            "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows",
            "false",
        )
    )


def tune_for_local_tests(spark: SparkSession) -> SparkSession:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    return spark
