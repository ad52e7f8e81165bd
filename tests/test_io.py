"""I/O surface tests (S3-S7, S10, P2, S5 partition pruning) — the
untested sinks/sources VERDICT flagged, as write->read round trips."""

from __future__ import annotations

import os

import pandas as pd
import pytest

from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_big_data_spark.sources.io import (
    from_pandas,
    from_rows,
    list_files,
    read_csv,
    read_table,
    remove_path,
    rename_with_suffix,
    write_csv,
    write_parquet,
)
from tests.conftest import SF_SMOKE


def test_csv_round_trip(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "nation")
    out = str(tmp_path / "nation_csv")
    write_csv(df, out)  # S4
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.LongType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.LongType()),
        ]
    )
    back = read_csv(spark, out, schema=schema)  # S3 (explicit schema)
    assert sorted(r["n_name"] for r in back.collect()) == sorted(
        r["n_name"] for r in df.collect()
    )
    inferred = read_csv(spark, out)  # S3 (inference path)
    assert inferred.count() == df.count()


def test_partitioned_parquet_write_prunes(spark, tmp_path):
    df = read_table(spark, SF_SMOKE, "orders")
    out = str(tmp_path / "orders_part")
    write_parquet(df, out, partition_by=["o_orderstatus"])  # S5
    back = spark.read.parquet(out).filter(F.col("o_orderstatus") == "F")
    plan = back._jdf.queryExecution().executedPlan().toString()
    # the status predicate must become a PartitionFilter, not a data filter
    assert "PartitionFilters: [" in plan
    assert "o_orderstatus" in plan.split("PartitionFilters:")[1].split("]")[0]
    want = df.filter(F.col("o_orderstatus") == "F").count()
    assert back.count() == want


def test_from_pandas_and_rows(spark):
    pdf = pd.DataFrame({"a": [1, 2, 3], "b": ["x", "y", "z"]})
    sdf = from_pandas(spark, pdf)  # S6
    assert sdf.count() == 3 and set(sdf.columns) == {"a", "b"}
    schema = "a: long, b: string"
    sdf2 = from_rows(spark, [(1, "x"), (2, "y")], schema)  # S7
    assert sdf2.schema.simpleString() == "struct<a:bigint,b:string>"
    assert sdf2.count() == 2


def test_from_rows_requires_schema(spark):
    with pytest.raises(TypeError):
        from_rows(spark, [(1, "x")])  # schema is a required arg


def test_fs_utils(tmp_path):
    d = tmp_path / "fsdemo"
    d.mkdir()
    (d / "a.txt").write_text("1")
    (d / "b.parquet").write_text("2")
    assert [os.path.basename(p) for p in list_files(str(d))] == ["a.txt", "b.parquet"]
    assert [os.path.basename(p) for p in list_files(str(d), "*.parquet")] == [
        "b.parquet"
    ]
    remove_path(str(d))
    assert not d.exists()
    remove_path(str(d))  # idempotent


def test_rename_with_suffix(spark):
    df = read_table(spark, SF_SMOKE, "region")
    out = rename_with_suffix(df, "_r", keep=["r_regionkey"])
    assert set(out.columns) == {"r_regionkey", "r_name_r"}
