"""SparkSession factory with scale-oriented defaults.

The engine targets multi-executor clusters over ~100 TB inputs; in this
sandbox it runs on local[N]. All settings below are cluster-safe:

- AQE on (runtime coalescing + skew-join splitting),
- file splits sized to the session's cores, not to a 4 MiB floor, so
  small and mid-size scans feed every core,
- Arrow on for every pandas UDF crossing (the only Python in the engine),
- bounded Arrow batches so wide ``html:binary`` rows can't blow the
  Python worker heap,
- shuffle partitions default to a sandbox-friendly value; on a real
  cluster set ``spark.sql.shuffle.partitions`` ~ 2-3x total cores (AQE
  coalesces the excess).

It also holds the two policies every operator shares: ``materialize``
(the one way to go eager) and ``fits``/``broadcast_or_shuffle`` (the one
byte budget for broadcasts and collects to the driver).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Bound Arrow batch size: pages rows carry html:binary payloads.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # Deterministic session timezone for timestamp round-trips vs DuckDB.
    "spark.sql.session.timeZone": "UTC",
    # 100 TB scans want larger split sizes; harmless locally.
    "spark.sql.files.maxPartitionBytes": "134217728",
    # A file scan splits at min(maxPartitionBytes, max(openCostInBytes,
    # (totalBytes + files * openCostInBytes) / cores)), so Spark's 4 MiB
    # open-cost floor decides the split count of any input under about
    # 4 MiB x cores: a 10k-doc table read as 2 tasks of 7,000 and 3,000
    # rows on local[4], leaving half the cores idle in every stage that
    # scanned it. At 256 KiB, totalBytes / cores decides instead and
    # inputs past 128 MiB x cores keep 128 MiB splits. On a cluster a
    # many-small-files table still packs into maxPartitionBytes-sized
    # splits: each file adds its length plus 256 KiB to the split it
    # joins, so a 128 MiB split opens at most 512 files.
    "spark.sql.files.openCostInBytes": "262144",
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # r7 (guide §3.1/§9): allow shuffled-hash joins when a side fits a
    # per-partition hash map instead of always sorting both sides —
    # the funnel's digest semi-join sorts a text-carrying frame
    # otherwise (interleaved A/B: 4.9 -> 4.5 s warm per action). The
    # AQE threshold bounds the build side per post-shuffle partition,
    # so the OOM risk the guide notes stays capped on any cluster.
    "spark.sql.join.preferSortMergeJoin": "false",
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold": "256m",
    # Quieter driver logs in the sandbox.
    "spark.ui.enabled": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(
    app_name: str = "streetview-naturevisibility-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (32 in the
    sandbox); on a real cluster pass None and let spark-submit decide.
    """
    # One BLAS thread per Python worker. local[N] runs N workers forked
    # from a daemon that inherits this environment; without the pin,
    # every worker's OpenBLAS spawns a full core-count thread pool and
    # N x N spin-waiting threads drive the box into >95% SYSTEM time
    # (measured: the 1M x 4096-centroid SemDeDup assignment matmul sat
    # at 20+ min of sys-thrash vs ~1 min pinned). Must run BEFORE the
    # JVM starts so the env reaches the workers; pre-set values win.
    # On a real cluster do the same via spark.executorEnv.*.
    for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(_v, "1")

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(int(cpus) if cpus.isdigit() else 32, 8)

    builder = SparkSession.builder.appName(app_name).master(master)
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` now and return a frame that reads the result back.

    The one place the engine goes eager: every operator that reuses a
    frame (two reads of one candidate set, an iterative round, a cli
    stage read by several later stages) calls this, and nothing else
    picks a method or a storage level. It is an eager
    ``df.localCheckpoint()`` at Spark's default level, because:

    - it writes raw row blocks; a columnar ``persist()``/``cache()``
      build measured about 4x the block write for array columns;
    - nothing is registered in the CacheManager, so no caller needs an
      ``unpersist``/``clearCache`` convention;
    - the blocks are reclaimed by the ContextCleaner once the returned
      frame (and with it this lineage) is garbage collected;
    - the work happens at call time, not at the first action downstream,
      and the returned plan's lineage stops here;
    - the level is memory-first, spilling to disk: ``DISK_ONLY`` on the
      knn candidate frame cost the 8M-page snap 0.881x.

    The blocks live on the executors that wrote them, so a frame is not
    reliable when an executor is lost (dynamic allocation on a
    cluster). A reliable ``checkpoint()`` policy belongs here, in this
    one function, when a workload needs it.
    """
    return df.localCheckpoint(eager=True)


# The one size budget: a materialized frame whose stored blocks are at
# most this many bytes may be broadcast or collected to the driver.
_DRIVER_MAX_BYTES = 256 << 20


def _stored_bytes(df: DataFrame) -> int | None:
    """Bytes the block manager holds for a frame ``materialize`` returned
    (memory plus disk), or None when the storage status has not yet seen
    every partition. Runs no Spark job."""
    plan = df._jdf.queryExecution().analyzed()
    rdd = plan.rdd() if plan.getClass().getSimpleName() == "LogicalRDD" else None
    if rdd is None or not rdd.getStorageLevel().isValid():
        raise TypeError("fits() measures only a frame returned by materialize()")
    n_parts = rdd.getNumPartitions()
    if n_parts == 0:
        return 0
    # the storage status is fed by the listener bus; a reading that has
    # not seen every block is a lower bound and cannot prove a fit
    for info in df.sparkSession.sparkContext._jsc.sc().getRDDStorageInfo():
        if info.id() == rdd.id() and info.numCachedPartitions() == n_parts:
            return info.memSize() + info.diskSize()
    return None


def fits(df: DataFrame) -> bool:
    """True when a frame returned by ``materialize`` stores at most
    ``_DRIVER_MAX_BYTES``: the one test behind every broadcast-or-shuffle
    and collect-to-driver decision.

    The size is what the block manager recorded for the frame's blocks,
    read without a job. Spark's own plan statistics cannot answer this:
    a materialized frame is sized from the estimate of the plan before
    the checkpoint, and that estimate counts one element per array
    column (Spark 4.1.2: 200k rows x 20-long arrays estimated at 2.4 MB,
    stored as 52 MB), so the planner broadcasts frames far past its
    threshold. A row count misses the same array payload. Raises
    ``TypeError`` for any other frame, so no caller falls back to a
    guess; a frame whose storage status is incomplete does not fit.
    """
    n = _stored_bytes(df)
    return n is not None and n <= _DRIVER_MAX_BYTES


def broadcast_or_shuffle(df: DataFrame) -> DataFrame:
    """``df`` as one side of a join: broadcast when it ``fits``, otherwise
    hinted to a sort-merge join. The hint matters: without it Spark may
    broadcast the *other* side from the same undercounting estimate."""
    return F.broadcast(df) if fits(df) else df.hint("merge")
