"""The file-shipped (memmap) probe path must agree with the broadcast path."""

import numpy as np
from pyspark.sql import functions as F

from xorf_spark import dataflow as D


def test_via_files_probe_matches_broadcast(spark, monkeypatch):
    keys = spark.range(50_000).select(F.xxhash64("id").alias("key"))
    shard_df = D.build_filter_df(keys, kind="bfuse8", n_shards=4)
    table = D.FilterTable.from_df(shard_df)

    probes = spark.range(20_000).select(
        F.xxhash64(F.col("id") + 5_000_000).alias("key")).unionByName(
        keys.limit(20_000))

    udf_bc = table.contains_udf(spark)
    assert not table._shipped
    # above the broadcast limit the fingerprints ship as files
    monkeypatch.setattr(D, "MAX_BROADCAST_FP_BYTES", 0)
    udf_mm = table.contains_udf(spark)
    assert table._shipped
    out = probes.select(
        "key", udf_bc(F.col("key")).alias("a"), udf_mm(F.col("key")).alias("b"))
    assert out.where(F.col("a") != F.col("b")).count() == 0
    # inserted keys all pass through the mmap path
    n_true = out.where(F.col("b")).count()
    assert n_true >= 20_000
