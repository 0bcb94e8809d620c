"""Warehouse writers (catalog + managed tables, overwrite/append) and the
incremental streaming-ingestion path (file source -> parquet sink with
checkpoint) — the Spark replacements for the reference's full-replace
loads (S6-S8, U2, §2.9)."""

from __future__ import annotations

from pyspark.sql import functions as F

from datafoundation_multi_source_retail_data_integration_hub_spark.sources import writers as W
from datafoundation_multi_source_retail_data_integration_hub_spark.streaming import pipelines

from .conftest import SF_SMOKE


def test_catalog_and_overwrite_append_semantics(spark):
    W.ensure_database(spark, "wtest")
    df1 = spark.createDataFrame([(1, "a"), (2, "b")], "id long, v string")
    W.write_table(df1, "t1", mode="overwrite", database="wtest")
    assert W.table_exists(spark, "t1", "wtest")
    assert W.read_table(spark, "t1", "wtest").count() == 2

    # append (the reference's staging semantics)
    W.write_table(df1, "t1", mode="append", database="wtest")
    assert W.read_table(spark, "t1", "wtest").count() == 4

    # full replace (the reference's warehouse semantics)
    W.write_table(df1.limit(1), "t1", mode="overwrite", database="wtest")
    assert W.read_table(spark, "t1", "wtest").count() == 1


def test_partitioned_fact_write(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "2024-01-01", 10.0), (2, "2024-01-02", 20.0)],
        "id long, dt string, v double",
    )
    W.write_table(df, "fact_p", database="wtest", partition_by=("dt",))
    back = W.read_table(spark, "fact_p", "wtest")
    assert back.count() == 2
    assert back.filter(F.col("dt") == "2024-01-01").count() == 1


def test_incremental_stream_ingestion_to_parquet(spark, tmp_path):
    """readStream -> parquet sink + checkpoint: the incremental staging
    load replacing the reference's full-replace batch."""
    out = str(tmp_path / "staged")
    ckpt = str(tmp_path / "ckpt")
    stream = pipelines.events_stream(spark, SF_SMOKE)
    q = (
        stream.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    staged = spark.read.parquet(out)
    assert staged.count() == 1000
    # re-running with the same checkpoint ingests nothing new (exactly-once)
    q2 = (
        pipelines.events_stream(spark, SF_SMOKE)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out).count() == 1000


def test_compact_parquet_reduces_files(spark, tmp_path):
    """Fragmented table -> one compaction pass -> expected file count,
    identical data."""
    import glob

    from datafoundation_multi_source_retail_data_integration_hub_spark.sources.writers import (
        compact_parquet,
    )

    path = str(tmp_path / "frag")
    df = spark.range(0, 10_000).withColumnRenamed("id", "k")
    df.repartition(40).write.parquet(path)
    assert len(glob.glob(path + "/part-*")) == 40

    before = sum(r["k"] for r in spark.read.parquet(path).collect())
    n = compact_parquet(spark, path, target_bytes_per_file=1 << 30)
    files = glob.glob(path + "/part-*")
    assert len(files) == n == 1
    after_df = spark.read.parquet(path)
    assert after_df.count() == 10_000
    assert sum(r["k"] for r in after_df.collect()) == before


def test_read_back_schema_relaxes_nested_nullability(spark, tmp_path):
    """A file stream's schema is taken from the feed frame, relaxed the
    way a parquet read of the written feed reports it — at every depth:
    nested struct fields, array elements and map values."""
    from pyspark.sql import types as T

    df = spark.range(3).select(
        F.struct(
            F.col("id").alias("a"),
            F.struct(F.col("id").alias("b")).alias("inner"),
        ).alias("s"),
        F.array(F.struct(F.col("id").alias("x"))).alias("arr"),
        F.create_map(F.lit("k"), F.array(F.col("id"))).alias("m"),
    )
    # non-null at every level before the write
    assert not df.schema["s"].nullable
    assert not df.schema["arr"].dataType.containsNull
    assert not df.schema["m"].dataType.valueContainsNull
    path = str(tmp_path / "feed")
    df.write.parquet(path)
    read = spark.read.parquet(path).schema
    assert pipelines.read_back_schema(df.schema) == read
    # a top-level-only relaxation misses the nested fields
    top_only = T.StructType([T.StructField(f.name, f.dataType, True) for f in df.schema])
    assert top_only != read
