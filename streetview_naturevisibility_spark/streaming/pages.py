"""Incremental pages ingest: maintain the kNN snap result as new pages
stream in.

The k=1 snap is an associative min-reduce, so the streaming form is
incremental view maintenance: each micro-batch computes its own
best-per-point against the static points table, then folds into the
stored state with one more min — the result after any prefix of batches
equals the batch pipeline over all pages seen (tested). Implemented
with ``foreachBatch`` (the standard pattern when the per-batch logic is
a full DataFrame pipeline) + AvailableNow so catch-up runs terminate.

This is the engine's continuous-crawl story: a Common-Crawl dump lands
as new parquet files; the per-point assignments and downstream per-road
aggregates refresh incrementally without rescanning history.
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.knn import knn_snap
from ..session import materialize

_COLS = ["point_id", "page_url", "snap_distance", "is_panoramic"]


def _latest_committed_version(state_path: str) -> int | None:
    """Highest version dir carrying a _SUCCESS marker, or None if no
    fold ever committed. Uncommitted dirs (crash mid-write) are simply
    not the latest — earlier state is never lost to a torn write."""
    versions = []
    for d in glob.glob(os.path.join(state_path, "v=*")):
        if os.path.exists(os.path.join(d, "_SUCCESS")):
            try:
                versions.append(int(d.rsplit("=", 1)[1]))
            except ValueError:
                continue
    return max(versions) if versions else None


def read_snap_state(spark: SparkSession, state_path: str) -> DataFrame:
    """The current committed snap state (raises if none committed yet)."""
    cur = _latest_committed_version(state_path)
    if cur is None:
        raise FileNotFoundError(f"no committed snap state under {state_path}")
    return spark.read.parquet(os.path.join(state_path, f"v={cur}")).select(*_COLS)


def _fold_best(
    spark: SparkSession, new_best: DataFrame, state_path: str
) -> None:
    """state = min(state, new_best) per point (associative).

    Crash-safe promotion: each fold writes to a NEW versioned directory
    ``state_path/v=<k+1>`` and is committed by its own _SUCCESS marker
    (written last by the parquet committer); readers always take the
    highest COMMITTED version. The previous in-place
    ``overwrite(state_path)`` deleted the old state before the new
    commit — a crash in that window silently reset the stream to empty
    state on replay. Here a torn write leaves an uncommitted dir that
    the next replay overwrites; committed history is never deleted
    until the newer version is durable.
    """
    new_best = new_best.select(*_COLS)
    cur = _latest_committed_version(state_path)
    if cur is not None:
        old = read_snap_state(spark, state_path)
        both = old.unionByName(new_best)
    else:
        both = new_best
    # min over (dist, url): misses carry null dist -> lose to any hit
    folded = (
        both.withColumn(
            "_k",
            F.struct(
                F.coalesce(F.col("snap_distance"), F.lit(float("inf"))).alias("d"),
                F.col("page_url").alias("u"),
                F.col("is_panoramic").alias("p"),
            ),
        )
        .groupBy("point_id")
        .agg(F.min("_k").alias("_k"))
        .select(
            "point_id",
            F.col("_k.u").alias("page_url"),
            F.when(F.col("_k.d") == float("inf"), F.lit(None)).otherwise(F.col("_k.d")).alias("snap_distance"),
            F.col("_k.p").alias("is_panoramic"),
        )
    )
    # commit to a fresh version; _SUCCESS (written last) IS the commit.
    # overwrite handles a stale uncommitted dir left by a crashed
    # attempt at this same version.
    nxt = 0 if cur is None else cur + 1
    folded.write.mode("overwrite").parquet(os.path.join(state_path, f"v={nxt}"))
    # now-durable: retire committed predecessors and stale torn writes
    for d in glob.glob(os.path.join(state_path, "v=*")):
        try:
            v = int(d.rsplit("=", 1)[1])
        except ValueError:
            continue
        if v < nxt:
            shutil.rmtree(d, ignore_errors=True)


def stream_snap_pages(
    spark: SparkSession,
    pages_dir: str,
    points: DataFrame,
    state_path: str,
    checkpoint: str,
    max_distance: float = 50.0,
    zoom: int = 14,
) -> None:
    """Stream new page files, fold each micro-batch into the snap state."""
    schema = spark.read.parquet(pages_dir).schema
    # every micro-batch snaps against the same points
    points = materialize(points)

    def handle(batch: DataFrame, batch_id: int) -> None:
        # sort_exact: a perf choice — two_phase pays an eager
        # materialization per call; micro-batches are small and sparse,
        # so the single-pass SortAggregate is the right trade here.
        snapped = knn_snap(
            points, batch, max_distance=max_distance, zoom=zoom, reduce="sort_exact"
        )
        _fold_best(spark, snapped, state_path)

    q = (
        spark.readStream.schema(schema)
        .parquet(pages_dir)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
