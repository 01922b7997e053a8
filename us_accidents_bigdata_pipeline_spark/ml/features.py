"""Feature pipelines (SURVEY §2.8 M1-M4): assemble → scale → index.

Reference parity:
- VectorAssembler with explicit null handling. The reference uses
  ``handleInvalid="skip"`` which silently drops rows
  (random_forest.py:85, SURVEY §7.4.3); here an explicit not-null
  pre-filter keeps row counts auditable.
- StandardScaler withMean/withStd matching knn_classification.py:80-85.
- StringIndexer handleInvalid="keep" (v2:cell20); note frequency-desc
  ordering determinism (SURVEY §7.4.4).
"""

from __future__ import annotations

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.feature import StandardScaler, StringIndexer, VectorAssembler
from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F


def assemble_and_scale(
    df: DataFrame, feature_cols: list[str], with_mean: bool = True
) -> tuple[DataFrame, PipelineModel]:
    """Pipeline([VectorAssembler, StandardScaler]) fit+transform
    (knn_classification.py:88-91) into a ``features`` column, after
    dropping rows with a null or NaN feature. Returns (transformed,
    fitted model).
    """
    cond = F.lit(True)
    for c in feature_cols:
        cond = cond & F.col(c).isNotNull() & ~F.isnan(F.col(c))
    df = df.filter(cond)
    assembler = VectorAssembler(
        inputCols=feature_cols, outputCol="_features_raw", handleInvalid="error"
    )
    scaler = StandardScaler(
        inputCol="_features_raw",
        outputCol="features",
        withMean=with_mean,
        withStd=True,
    )
    model = Pipeline(stages=[assembler, scaler]).fit(df)
    return model.transform(df).drop("_features_raw"), model


def index_categoricals(
    df: DataFrame, cols: list[str], handle_invalid: str = "keep"
) -> tuple[DataFrame, PipelineModel]:
    """StringIndexer per column, frequency-desc ordering (v2:cell20).
    Output columns are ``{col}_idx``."""
    stages = [
        StringIndexer(
            inputCol=c,
            outputCol=f"{c}_idx",
            handleInvalid=handle_invalid,
            stringOrderType="frequencyDesc",
        )
        for c in cols
    ]
    model = Pipeline(stages=stages).fit(df)
    return model.transform(df), model


def array_to_features(
    df: DataFrame, array_col: str, output_col: str = "features"
) -> DataFrame:
    """array<numeric> (e.g. an embedding column) → MLlib Vector column."""
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(
        output_col, array_to_vector(F.col(array_col).cast("array<double>"))
    )


def loo_target_encoding(
    df: DataFrame,
    category_col: str,
    target_col: str,
    out_col: str = "te",
    ndigits: int = 6,
) -> DataFrame:
    """Leave-one-out target encoding: each row's category is encoded
    as the mean of the TARGET over the OTHER rows of its category —
    (Σ_group y − y_i) / (n_group − 1) — the leakage-safe form of mean
    encoding (plain mean encoding leaks each row's own label into its
    feature; LOO is what tabular ML actually ships). Categories with a
    single row yield NULL (no other rows to average).

    One hash shuffle on the category for the window aggregates. The
    numerator (Σ_group y − y_i) is computed in exact DECIMAL — float
    window sums differ across engines/partition orders in the last
    ulps, which a /n division then exposes at the rounded output
    (caught live: ...898553 vs ...898552); the exact-decimal
    numerator converts to the identical double on every engine before
    the single float division.
    """
    yd = F.col(target_col).cast("decimal(18,6)")
    w = W.partitionBy(category_col)
    s = F.sum(yd).over(w)
    n = F.count(F.lit(1)).over(w)
    num = (s - yd).cast("double")
    return df.withColumn(
        out_col,
        F.when(n > 1, F.round(num / (n - 1), ndigits)),
    )


def hashed_features(
    df: DataFrame,
    id_col: str,
    text_col: str,
    dim: int = 16,
    seed: int = 42,
) -> DataFrame:
    """Hashing-trick featurizer (HashingVectorizer analog): every
    token maps to a bucket via md5 (index = first 4 hex digits mod
    ``dim``) with a ± sign from the 5th hex digit's low bit (the
    signed hash that keeps collisions unbiased), summed per (doc,
    bucket) — a fixed-width bag-of-words WITHOUT a vocabulary pass,
    the featurizer that scales to unbounded token spaces.

    md5 (not xxhash/murmur) keeps the mapping engine-portable: the
    DuckDB oracle reproduces index, sign and sums exactly. Output is
    sparse long form (id, dim, value), one token-explode + one
    (id, dim) aggregation; no vocabulary broadcast, no Python.
    """
    from ..functions import word_tokens

    tok = df.select(
        F.col(id_col), F.explode(word_tokens(text_col)).alias("_t")
    ).filter(F.col("_t") != "")
    h = F.md5(F.concat(F.lit(f"{seed}-"), F.col("_t")))
    idx = (F.conv(F.substring(h, 1, 4), 16, 10).cast("int") % dim).alias(
        "dim"
    )
    sign = F.when(
        F.conv(F.substring(h, 5, 1), 16, 10).cast("int") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select(F.col(id_col), idx, sign.alias("_s"))
        .groupBy(id_col, "dim")
        .agg(F.sum("_s").cast("bigint").alias("value"))
        .filter(F.col("value") != 0)
    )
