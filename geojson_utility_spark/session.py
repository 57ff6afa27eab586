"""SparkSession factory with scale-appropriate defaults.

UTC session timezone mirrors the reference's tz-naive->UTC coercion
(reference: backend/routers/catchment.py:386-390); Arrow execution is mandatory because
every geometry/imaging operator runs as an Arrow-batched pandas UDF.
It also holds the engine's one release policy (:func:`defer`).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "geojson_utility_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Local mode is a stand-in for a multi-executor cluster: partition counts and AQE
    settings are chosen so the same plan scales to real executors — shuffle partitions
    track core count, AQE coalesces post-shuffle partitions and splits skewed ones at
    runtime, and Arrow moves UDF batches columnar instead of pickled rows.
    """
    cores = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    nshuffle = shuffle_partitions or int(cores)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        .config("spark.default.parallelism", str(nshuffle))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large Arrow batches matter: at 64k rows/batch the JVM<->Python handoff's
        # per-flush cost anti-scales under many concurrent workers; 256k restores
        # positive scaling and halves handoff wall time at 32 threads
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "262144")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # NOTE on broadcast policy (r4, measured): a global
        # autoBroadcastJoinThreshold=-1 + adaptive-threshold-only policy was
        # tried and reverted — it is the "never trust estimates" ideal, but the
        # extra shuffle boundaries cost ~10% across the bench suite at sandbox
        # scale.  Instead the dedup/similarity verify pipelines carry TARGETED
        # join hints at the three sites where Catalyst's static estimates were
        # measured to plan catastrophic broadcasts (see dedup.py comments).
        #
        # r7 calibration (measured): the threshold compares Catalyst's
        # file-bytes ESTIMATE, but snappy parquet decodes to ~4x its file size
        # as unsafe rows, and a HashedRelation adds more — at 64 MB the 6M-row
        # lineitem (38 MB estimated after column pruning) was planned as the
        # BROADCAST side of q3/q5, rebuilding a ~500 MB hash relation per run
        # (q3 3.8 s, q5 3.7-7.0 s at sf1.0).  16 MB keeps the same ~64 MB
        # in-memory envelope the r4 number intended once the ~4x decode factor
        # is priced in: the filtered orders side still broadcasts, lineitem
        # never does (q3 1.1 s, q5 1.7-2.0 s; plans in plans/r07/).  Scale-
        # neutral: the decision tracks estimated bytes, not core count.
        .config("spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024))
        # Subset co-partitioning (r6, measured): allow a join to reuse a child
        # already hash-partitioned on a SUBSET of the join keys (Spark 3.3+
        # defaults this to true = all-keys-required).  With it, the bucketed
        # shingle table (bucketBy doc_id) joins on (doc_id, shingle) with ZERO
        # exchange — the planner otherwise disables the bucketed scan and
        # re-shuffles the ~10x-corpus verify side (measured at 1M docs:
        # 76.9 s -> 47.3 s for the full minhash pipeline; plan evidence in
        # BENCH.md round-6).  The known trade (possible skew when the subset
        # key is low-cardinality) is covered by AQE skew-join splitting.
        .config("spark.sql.requireAllClusterKeysForCoPartition", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_DEFERRED: list[Callable[[], object]] = []


def stage(df: DataFrame, eager: bool = True) -> DataFrame:
    """localCheckpoint ``df``, or checkpoint it RELIABLY (to disk: heap-neutral,
    restart-survivable) when the session has a checkpoint dir — the low-heap
    mode ``entry_queries._reclaim`` sets.  Free it with :func:`release_staged`."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def release_staged(df: DataFrame) -> None:
    """Free the blocks of a :func:`stage` frame and delete a RELIABLE checkpoint's
    files.  ``df.unpersist()`` does neither: it drops cache-manager entries, and a
    checkpoint belongs to the RDD under its ``LogicalRDD`` plan node instead."""
    rdd = df._jdf.queryExecution().logical().rdd()
    rdd.unpersist(False)
    path = rdd.getCheckpointFile()
    if path.isDefined():
        sc = df.sparkSession.sparkContext
        p = sc._jvm.org.apache.hadoop.fs.Path(path.get())
        p.getFileSystem(sc._jsc.hadoopConfiguration()).delete(p, True)


def defer(release: Callable[[], object]) -> None:
    """Queue a zero-argument release for :func:`release_deferred`.  An owner
    that knows when its state's lifetime ends releases it directly; an operator
    whose lazy result needs its state after the call defers the release.
    Nothing is freed by plan equality, so a caller's own caches survive."""
    _DEFERRED.append(release)


def release_deferred() -> None:
    """Run every queued release, newest first, and empty the queue — only once
    every frame built since the last call is consumed: a released checkpoint,
    unlike a dropped cache, cannot be recomputed."""
    while _DEFERRED:
        _DEFERRED.pop()()
