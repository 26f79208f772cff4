"""File scans feed every core: the session's split size follows the
input's bytes per core, so a few-MB parquet file does not read as two
tasks on a four-core session."""

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

ROWS = 800_000
ROW_GROUPS = 8


def test_mid_size_parquet_splits_across_cores(spark, tmp_path):
    rng = np.random.default_rng(7)
    path = str(tmp_path / "mid.parquet")
    # random doubles do not compress: 8 equal row groups of ~0.8 MB
    pq.write_table(
        pa.table({"x": rng.random(ROWS)}),
        path,
        row_group_size=ROWS // ROW_GROUPS,
        compression="none",
        use_dictionary=False,
    )
    meta = pq.ParquetFile(path).metadata
    assert meta.num_row_groups >= ROW_GROUPS
    assert os.path.getsize(path) >= 6 << 20

    per_part = sorted(
        r["count"]
        for r in spark.read.parquet(path)
        .groupBy(F.spark_partition_id().alias("p"))
        .count()
        .collect()
    )
    cores = spark.sparkContext.defaultParallelism
    assert len(per_part) >= min(cores, meta.num_row_groups), per_part
    assert sum(per_part) == ROWS
    assert max(per_part) <= ROWS // 2, per_part
