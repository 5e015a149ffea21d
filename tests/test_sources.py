"""Parquet schema memo of ``sources.scan_parquet`` / ``read_table``.

A repeated scan of an unchanged file must plan without a Spark job and
return the inferred schema; a new file version or a change of an
inference conf must infer again; and because the memo holds schemas, not
DataFrames, two scans of one table still self-join.
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq

from blow_spark.sources import read_table, scan_parquet


def _jobs_during(spark, fn):
    st = spark.sparkContext.statusTracker()
    before = set(st.getJobIdsForGroup(None) or [])
    out = fn()
    return out, len(set(st.getJobIdsForGroup(None) or []) - before)


def test_second_read_table_runs_no_job(spark, sf_dir):
    first = read_table(spark, sf_dir, "orders")
    second, jobs = _jobs_during(spark, lambda: read_table(spark, sf_dir, "orders"))
    assert jobs == 0
    assert second.schema.json() == first.schema.json()
    assert second.schema.json() == (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).schema.json()
    )


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert read_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    again = read_table(spark, str(tmp_path), "t")
    assert again.columns == ["a", "b"]
    assert sorted(again.collect()) == [(1, "x"), (2, "y")]


def test_directory_part_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    # the directory's own stat does not change when a part file inside it
    # is rewritten, so directories are never memoized
    part = str(tmp_path / "d" / "part-0.parquet")
    os.makedirs(os.path.dirname(part))
    pq.write_table(pa.table({"a": [1]}), part)
    assert scan_parquet(spark, str(tmp_path / "d")).columns == ["a"]
    pq.write_table(pa.table({"a": [1], "b": [2]}), part)
    assert scan_parquet(spark, str(tmp_path / "d")).columns == ["a", "b"]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    path = str(tmp_path / "bin.parquet")
    pq.write_table(pa.table({"b": pa.array([b"ab"], pa.binary())}), path)
    key = "spark.sql.parquet.binaryAsString"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "false")
        assert scan_parquet(spark, path).schema["b"].dataType.typeName() == "binary"
        spark.conf.set(key, "true")
        assert scan_parquet(spark, path).schema["b"].dataType.typeName() == "string"
    finally:
        spark.conf.set(key, old)


def test_two_reads_of_one_table_self_join(spark, sf_dir):
    from pyspark.sql import functions as F

    o1 = read_table(spark, sf_dir, "orders").alias("o1")
    o2 = read_table(spark, sf_dir, "orders").alias("o2")
    got = (
        o1.join(o2, F.col("o1.o_custkey") == F.col("o2.o_custkey"))
        .filter(F.col("o1.o_orderkey") < F.col("o2.o_orderkey"))
        .count()
    )
    spark.read.parquet(os.path.join(sf_dir, "orders.parquet")).createOrReplaceTempView(
        "orders_self_join_ref"
    )
    want = spark.sql(
        "SELECT count(*) FROM orders_self_join_ref o1 JOIN orders_self_join_ref o2 "
        "ON o1.o_custkey = o2.o_custkey AND o1.o_orderkey < o2.o_orderkey"
    ).first()[0]
    assert got == want > 0
