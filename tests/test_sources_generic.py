"""File sources and sinks."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dbt_omnata_push_spark.sources import read_source, write_sink


def test_csv_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "a,b"), (2, "c")], "k int, v string")
    write_sink(df, str(tmp_path / "csv"), fmt="csv", header="true")
    back = read_source(spark, str(tmp_path / "csv"), fmt="csv")
    assert {(r["k"], r["v"]) for r in back.collect()} == {(1, "a,b"), (2, "c")}


def test_json_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, {"x": "y"})], "k int, m map<string,string>")
    write_sink(df, str(tmp_path / "json"), fmt="json")
    back = read_source(spark, str(tmp_path / "json"), fmt="json")
    assert back.collect()[0]["m"]["x"] == "y"


def test_partitioned_sink_prunes(spark, tmp_path):
    df = spark.range(0, 100).withColumn("part", (F.col("id") % 4).cast("int"))
    write_sink(df, str(tmp_path / "pq"), fmt="parquet", partition_by=["part"])
    back = read_source(spark, str(tmp_path / "pq")).filter(F.col("part") == 2)
    plan = back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == 25
    # Partition filter prunes directories at planning time.
    assert "PartitionFilters: [isnotnull(part" in plan


def test_streaming_read_requires_schema(spark, tmp_path):
    with pytest.raises(ValueError, match="explicit schema"):
        read_source(spark, str(tmp_path), fmt="json", streaming=True)


def test_unknown_format_rejected(spark):
    with pytest.raises(ValueError, match="unsupported source format"):
        read_source(spark, "/nowhere", fmt="avro")


def test_python_datasource_partitioned_read(spark):
    """Spark 4 Python DataSource: plan-time schema, one task per
    partition slice, deterministic rows."""
    from dbt_omnata_push_spark.sources.pysource import SyntheticDocsDataSource

    try:
        spark.dataSource.register(SyntheticDocsDataSource)
    except Exception:
        pass
    df = (
        spark.read.format("synthdocs")
        .option("n_docs", 100)
        .option("n_partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    rows = {r["doc_id"]: r["text"] for r in df.collect()}
    assert len(rows) == 100
    import hashlib

    assert rows[7] == hashlib.md5(b"doc:7").hexdigest()


def test_orc_roundtrip_nested_array_bitexact(spark, tmp_path):
    """ORC sink -> source preserves an array<double> column bit-exactly
    (the column shape the embeddings table ships)."""
    from dbt_omnata_push_spark.sources import read_source, write_sink

    rows = [(1, [0.25, -1.5, 3.141592653589793], "a"),
            (2, [1e-300, 1e300, -0.0], "b")]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    path = str(tmp_path / "orc_emb")
    write_sink(df, path, fmt="orc")
    back = read_source(spark, path, fmt="orc", schema=df.schema)
    got = {r["vec_id"]: (r["embedding"], r["label"]) for r in back.collect()}
    import math

    for vid, vec, lab in rows:
        bvec, blab = got[vid]
        assert blab == lab
        assert all(
            math.copysign(1, x) == math.copysign(1, y) and x == y
            for x, y in zip(vec, bvec)
        )
