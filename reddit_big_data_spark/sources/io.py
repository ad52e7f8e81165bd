"""Sources & sinks (SURVEY.md §2.1, S1-S11).

The reference reads cloud parquet (code/project_starter_script.py:24-25),
re-reads materialized parquet subsets (code/eda/project_eda.py:654), reads/
writes CSV (code/project_starter_script.py:137,141) and ingests driver-side
pandas frames (code/nlp/Data_Gathering.py:113-137). Ours is the same surface
with scale posture baked in: partitioned sinks, no schema inference in prod
paths, and a suffix-rename utility replacing the ad-hoc dict rename at
code/nlp/Data_Gathering.py:205-211.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from reddit_big_data_spark.schemas import TESTDATA_SCHEMAS

# Footer-schema cache behind table_schema (r16, guide §6/§1): a bare
# spark.read.parquet() infers the schema from the footer on EVERY call —
# measured 86-130 ms of driver latency per call at any scale factor,
# paid 1-3x per query per bench pass (tens of seconds across the sweep),
# and at 100 TB a footer-inference over a million-file table is a
# driver stall. The schema of a given (sf_dir, table) is immutable for
# the life of the process, so the first call infers and later calls
# replay it through spark.read.schema(...) — 16 ms. This is METADATA
# caching only (the module docstring has always said "no schema
# inference in prod paths"); every row still computes from parquet on
# every action. Keyed per (sf_dir, name); a corpus regenerated mid-
# process with a DIFFERENT schema is not a supported scenario.
_SCHEMA_CACHE: dict[tuple[str, str], T.StructType] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1/S2: parquet scan. Schema comes from the footer ONCE per
    (sf_dir, table) per process (table_schema); filters and column
    pruning push down (verify with .explain: PushedFilters/ReadSchema).

    TIMESTAMP(NANOS) columns (events.ts in the testdata) arrive as long
    nanos under ``spark.sql.legacy.parquet.nanosAsLong`` and are converted
    here by truncating to micros — bit-identical to DuckDB's parquet reader.
    """
    df = spark.read.schema(table_schema(spark, sf_dir, name)).parquet(
        os.path.join(sf_dir, f"{name}.parquet")
    )
    expected = TESTDATA_SCHEMAS.get(name)
    if expected is not None:
        actual = {f.name: f.dataType for f in df.schema.fields}
        for f in expected.fields:
            if isinstance(f.dataType, T.TimestampType) and isinstance(
                actual.get(f.name), T.LongType
            ):
                df = df.withColumn(f.name, F.expr(f"timestamp_micros({f.name} div 1000)"))
    return df


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The RAW footer schema of a testdata table (no ts conversion),
    inferred once per (sf_dir, table) per process (see _SCHEMA_CACHE).
    read_table reads through it, and a streaming source that needs an
    explicit schema should not pay a fresh footer inference per query
    construction either."""
    key = (sf_dir, name)
    cached = _SCHEMA_CACHE.get(key)
    if cached is None:
        cached = spark.read.parquet(
            os.path.join(sf_dir, f"{name}.parquet")
        ).schema
        _SCHEMA_CACHE[key] = cached
    return cached


def read_csv(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
) -> DataFrame:
    """S3: CSV read. Pass an explicit schema in production; inference
    (the reference's default, code/project_starter_script.py:141) scans the
    data twice and degrades column names to _c0... when headerless.
    """
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        return reader.schema(schema).csv(path)
    return reader.option("inferSchema", "true").csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """S4: CSV sink (the reference used legacy com.databricks.spark.csv)."""
    df.write.mode(mode).option("header", "true").csv(path)


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
) -> None:
    """S5: materialize an intermediate table.

    Unlike the reference (unpartitioned writes, code/eda/project_eda.py:568),
    pass `partition_by` on natural keys (subreddit, date) so downstream scans
    get partition pruning at 100 TB.
    """
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def from_pandas(spark: SparkSession, pdf, schema=None) -> DataFrame:
    """S6: driver-side pandas ingest (the reference's baseball-reference CSV
    path, code/nlp/Data_Gathering.py:113-137). Arrow-accelerated by the
    session conf; pass a schema to avoid object-dtype inference surprises.
    Driver-memory bound by construction — for anything big, write parquet
    and use read_table instead."""
    if schema is not None:
        return spark.createDataFrame(pdf, schema=schema)
    return spark.createDataFrame(pdf)


def local_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-local rows -> DataFrame via the ARROW ingest path.

    ``spark.createDataFrame(list_of_tuples, schema)`` builds a *pickled
    Python RDD* (plan node ``Scan ExistingRDD`` via
    applySchemaToPythonRDD): every downstream task that scans it pays a
    Python-worker round trip — measured ~250 ms per task of pure
    non-CPU wait (32-task stage = ~8 s of executor runtime for a
    477-row frame in q35, guide §4). Routing the same rows through a
    pandas frame engages the Arrow ingest (session conf
    ``spark.sql.execution.arrow.pyspark.enabled``), which lands as a
    JVM-local ``LocalTableScan``: no Python worker at execution, and
    the optimizer can broadcast it or fold it like any local relation.
    Measured on a 5 000-row (id, comp) frame joined against 200 k rows:
    0.78 s -> 0.32 s per run, plan ``Scan ExistingRDD`` ->
    ``LocalTableScan``.

    Semantics are identical to createDataFrame(rows, schema) — same
    rows, same schema (the explicit schema is applied on both paths;
    if Arrow conversion cannot represent a value Spark itself falls
    back to the non-Arrow path with a warning rather than erroring).
    """
    try:
        import pandas as pd
    except ImportError:  # pragma: no cover - pandas ships with pyspark
        return spark.createDataFrame(rows, schema=schema)
    if isinstance(schema, str):
        # Parse the DDL string once (no job — analysis only) so the
        # pandas columns can be named, not positional: the Arrow path
        # matches pandas columns to schema fields by NAME.
        schema = spark.createDataFrame([], schema).schema
    names = [f.name for f in schema.fields]
    pdf = pd.DataFrame(
        [tuple(r) for r in rows], columns=names, dtype=object
    )
    return spark.createDataFrame(pdf, schema=schema)


def from_rows(spark: SparkSession, rows: list, schema) -> DataFrame:
    """S7: collected-rows ingest (code/project_starter_script.py:94).
    Schema is REQUIRED: inferring from Python objects gives nullable
    guesses that break oracle schema comparison. Arrow-backed (see
    local_df): the rows land as a LocalTableScan, not a pickled RDD."""
    return local_df(spark, rows, schema)


def list_files(path: str, pattern: str = "*") -> list[str]:
    """S10: FS utility replacing dbutils.fs.ls
    (code/project_starter_script.py:20) with plain pathlib."""
    import pathlib

    return sorted(str(p) for p in pathlib.Path(path).glob(pattern))


def remove_path(path: str) -> None:
    """S10: rm -r replacing dbutils.fs.rm
    (code/nlp/Yankees_Processing_with_NLP.py:719)."""
    import shutil

    shutil.rmtree(path, ignore_errors=True)


def rename_with_suffix(df: DataFrame, suffix: str, keep: Iterable[str] = ()) -> DataFrame:
    """P2: bulk rename to avoid join-time ambiguity.

    Replaces the ad-hoc dict rename at code/nlp/Data_Gathering.py:205-211
    with a generic projection (pure metadata — no execution cost).
    """
    keep_set = set(keep)
    return df.select(
        *[F.col(c).alias(c if c in keep_set else f"{c}{suffix}") for c in df.columns]
    )


def sorted_report(df: DataFrame, *cols) -> DataFrame:
    """Totally order a SMALL report frame: single-partition exchange +
    local sort, instead of a bare ``.orderBy(...)``.

    A global sort plans a range exchange whose partitioner SAMPLES the
    child RDD in a separate job before the real pass — re-executing
    everything above the child's last exchange. For reports whose final
    segment is expensive (a 3-fat-row exact-percentile merge: 1.9 s at
    sf0.1 in q16/q22; the simjoin verify joins: 1.6 s in q36) that work
    runs TWICE per action. A single-partition exchange of the report
    rows satisfies the sort's required distribution outright, so the
    sort runs locally with no sampling job and no re-execution. Only
    for report-sized outputs (the exchange serializes one partition);
    large sorted outputs should keep the parallel range sort."""
    return df.repartition(1).orderBy(*cols)


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Repartition a narrow scan UP to the session's parallelism before
    row-expanding work (explode / per-char transform chains).

    A small-file scan (the sf0.01/sf0.1 documents table is 1-2 parquet
    files) otherwise pins every pre-shuffle task — gram explosion, md5,
    tokenization — to as many cores as there are input splits, no matter
    how wide the cluster. No-op when the scan already has >= parallelism
    partitions (any at-scale input), so the extra exchange only ever moves
    a few small files' worth of rows.
    """
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)
