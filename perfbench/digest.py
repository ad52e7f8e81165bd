"""Order-insensitive content digest of a DataFrame, computed inside Spark.

Every column is normalised first, so that values which are equal up to
floating-point summation order hash equally: doubles and floats are
rounded to 6 decimals (also inside arrays, structs and maps), maps become
key-sorted entry arrays and ML vectors become double arrays. Each row is
then hashed with ``xxhash64`` and the hashes are summed in two 31-bit
lanes, which is independent of row order and partitioning, and safe from
long overflow under ANSI mode. The digest is ``"<rows>:<lane0>:<lane1>"``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_LANE = 0x7FFFFFFF


def _normalise(col: Column, dt: T.DataType) -> Column:
    if isinstance(dt, (T.DoubleType, T.FloatType)):
        return F.round(col.cast("double"), 6)
    if isinstance(dt, T.ArrayType):
        return F.transform(col, lambda x: _normalise(x, dt.elementType))
    if isinstance(dt, T.StructType):
        fields = [_normalise(col[f.name], f.dataType).alias(f.name) for f in dt.fields]
        return F.when(col.isNotNull(), F.struct(*fields))
    if isinstance(dt, T.MapType):
        entry = T.StructType([
            T.StructField("key", dt.keyType),
            T.StructField("value", dt.valueType),
        ])
        return F.array_sort(_normalise(F.map_entries(col), T.ArrayType(entry)))
    if isinstance(dt, T.UserDefinedType):
        if dt.typeName() == "vector":
            from pyspark.ml.functions import vector_to_array

            return _normalise(vector_to_array(col), T.ArrayType(T.DoubleType()))
        return col.cast("string")
    return col


def digest(df: DataFrame) -> str:
    """Row count plus order-insensitive hash of ``df``'s rows (one job)."""
    cols = [_normalise(F.col(f"`{f.name}`"), f.dataType) for f in df.schema.fields]
    h = F.xxhash64(*cols) if cols else F.lit(0).cast("long")
    row = (
        df.select(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.sum(F.col("h").bitwiseAND(_LANE)), F.lit(0)).alias("a"),
            F.coalesce(
                F.sum(F.shiftrightunsigned("h", 33).bitwiseAND(_LANE)), F.lit(0)
            ).alias("b"),
        )
        .collect()[0]
    )
    return f"{row['n']}:{row['a']}:{row['b']}"
