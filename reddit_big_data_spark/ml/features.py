"""Feature-prep operators M1-M4, M6 + M15 (SURVEY.md §2.10).

The reference builds its feature stack as inline notebook lists of
StringIndexer/OneHotEncoder/VectorAssembler stages
(reference code/ml/ML_Sentiment.py:162-181, code/ml/ML_Modeling.py:
191-194,300-310) and derives class weights driver-side with a loop
(ML_Sentiment.py:96-121). Ours: composable builders and a fully
distributed weight derivation (one groupBy + broadcast-joinable map).
"""

from __future__ import annotations

from pyspark.ml.feature import (
    IndexToString,
    OneHotEncoder,
    StandardScaler,
    StringIndexer,
    VectorAssembler,
)
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def string_indexers(cols: list[str], suffix: str = "_idx") -> list[StringIndexer]:
    """M1: one StringIndexer per categorical col (frequencyDesc order, the
    reference's default — noted at ML_Sentiment.py:158)."""
    return [
        StringIndexer(inputCol=c, outputCol=f"{c}{suffix}", handleInvalid="keep")
        for c in cols
    ]


def one_hot_encoders(cols: list[str], in_suffix: str = "_idx", out_suffix: str = "_oh") -> list[OneHotEncoder]:
    """M2: OHE over indexed cols (ML_Sentiment.py:170-174)."""
    return [
        OneHotEncoder(inputCol=f"{c}{in_suffix}", outputCol=f"{c}{out_suffix}")
        for c in cols
    ]


def assembler(feature_cols: list[str], out_col: str = "features") -> VectorAssembler:
    """M4 (feature_correlation.py:42; ML_Modeling.py:194)."""
    return VectorAssembler(inputCols=feature_cols, outputCol=out_col, handleInvalid="skip")


def scaler(in_col: str = "features", out_col: str = "features_scaled") -> StandardScaler:
    """M6: withMean+withStd, as the reference configures it
    (ML_Sentiment.py:373-374)."""
    return StandardScaler(inputCol=in_col, outputCol=out_col, withMean=True, withStd=True)


def index_to_string(in_col: str, out_col: str, labels: list[str]) -> IndexToString:
    """M3: inverse label map (ML_Sentiment.py:189-191)."""
    return IndexToString(inputCol=in_col, outputCol=out_col, labels=labels)


def with_class_weights(df: DataFrame, label_col: str, weight_col: str = "weight") -> DataFrame:
    """M15/A13: balanced class weights n_rows / (n_classes * class_count),
    derived distributed (one aggregation, broadcast joined back) instead of
    the reference's driver-side collect + when-chain
    (ML_Sentiment.py:96-121)."""
    counts = df.groupBy(label_col).agg(F.count("*").alias("__cnt"))
    # one action for both scalars: the classes are the count rows and
    # the row total is their sum (NULL on an empty frame)
    n_classes, total = counts.agg(F.count("*"), F.sum("__cnt")).first()
    total = total or 0
    weights = counts.select(
        label_col,
        (F.lit(float(total)) / (F.lit(float(n_classes)) * F.col("__cnt"))).alias(
            weight_col
        ),
    )
    return df.join(F.broadcast(weights), label_col)
