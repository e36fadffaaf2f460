"""Batch ETL + training pipeline (SURVEY.md §3.1, build-plan step 3-4).

The reference lifecycle: CSV batches → one DataFrame → conform →
persist → five cumulative slices → five models
(``spark_model_trainer.py:177-244``). Re-expressed with the engine's
operators and two deliberate fixes documented in SURVEY §7:

- **deterministic slices**: ``row_number`` over a stable key replaces
  the order-unstable ``limit(n)`` (flaw acknowledged at
  ``spark_model_trainer.py:226``);
- **uniform model persistence**: every model is one PipelineModel.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_kafka_2_spark.io import read_csv_dir
from bigdata_kafka_2_spark.ml import pipelines as P
from bigdata_kafka_2_spark.operators.common import pin
from bigdata_kafka_2_spark.schema import (
    FOOD_DESCRIPTION_COLUMN,
    FOOD_NUMERIC_COLUMNS,
    FOOD_SCHEMA,
    conform_schema,
)

#: Reference model count and slice policy (spark_model_trainer.py:12,209-226):
#: model k (1-based) trains on the first k/NUM_MODELS of the rows.
NUM_MODELS = 5

#: Reference feature subsets (spark_model_trainer.py:28-44).
CLUSTER_FEATURES = list(FOOD_NUMERIC_COLUMNS)
REGRESSION_FEATURES = [
    "Protein-G",
    "Total lipid (fat)-G",
    "Carbohydrate, by difference-G",
]
REGRESSION_LABEL = "Energy-KCAL"
CLASSIFICATION_FEATURES = [
    "Total lipid (fat)-G",
    "Carbohydrate, by difference-G",
    "Sugars, total including NLEA-G",
    "Sodium, Na-MG",
]
CLASSIFICATION_LABEL_SOURCE = "Protein-G"


def ingest_batches(
    spark: SparkSession, batches_dir: str, schema: T.StructType = FOOD_SCHEMA
) -> DataFrame:
    """S6 + §1.2: directory-of-CSVs scan (union-all), schema with
    inference fallback, then full conformance (cast → fill 0.0 /
    'Unknown' → synthesize missing columns)."""
    raw = read_csv_dir(spark, batches_dir, schema=schema)
    return conform_schema(raw, schema)


def slice_sizes(total: int, num_models: int = NUM_MODELS) -> list[int]:
    """Cumulative slice sizes, reproducing the reference arithmetic
    (``spark_model_trainer.py:210-224``): ``base_increment = total //
    num_models``; model i gets ``i * base_increment`` rows, except the
    last model which gets all rows; a zero increment (tiny data) gives
    every model the full set — the ``base_increment == 0`` edge case."""
    base = total // num_models
    if base == 0:
        return [total] * num_models
    sizes = [i * base for i in range(1, num_models)]
    sizes.append(total)
    return sizes


def cumulative_slices(
    df: DataFrame,
    order_cols: Sequence[str],
    num_models: int = NUM_MODELS,
) -> list[DataFrame]:
    """Deterministic cumulative prefixes over a total order.

    One ranking pass computes the row number (range-bucketed — see
    ``operators.relational.global_row_number``; no single-partition
    window); each slice is a filter on it — with the ranking pinned, the
    five slices share the scan (mirrors ``combined_df.persist()``,
    ``spark_model_trainer.py:206``).
    """
    from bigdata_kafka_2_spark.operators.relational import global_row_number

    total = df.count()
    ranked = pin(global_row_number(df, list(order_cols), rn_col="__rn"))
    return [
        ranked.filter(F.col("__rn") <= n).drop("__rn")
        for n in slice_sizes(total, num_models)
    ]


def train_all_models(
    spark: SparkSession,
    batches_dir: str,
    models_dir: str,
    order_cols: Sequence[str] = (FOOD_DESCRIPTION_COLUMN,),
) -> dict[str, str]:
    """The full §3.1 trainer: ingest → conform → 5 cumulative slices →
    {kmeans_1, kmeans_2, reco_prep, gbt_regression, gbt_classification}
    saved under ``models_dir`` (uniform PipelineModel layout).

    Returns {model_name: path}. Models whose data gate fails are
    skipped (reference behavior: log-and-continue,
    ``spark_model_trainer.py:72-74``).
    """
    df = ingest_batches(spark, batches_dir)
    slices = cumulative_slices(df, order_cols)
    jobs = [
        ("model_1_kmeans", slices[0], lambda d: P.train_kmeans(d, CLUSTER_FEATURES)),
        ("model_2_kmeans", slices[1], lambda d: P.train_kmeans(d, CLUSTER_FEATURES)),
        (
            "model_3_reco",
            slices[2],
            lambda d: P.train_scaled_features(d, CLUSTER_FEATURES),
        ),
        (
            "model_4_gbt_reg",
            slices[3],
            lambda d: P.train_gbt_regressor(
                d, REGRESSION_FEATURES, REGRESSION_LABEL
            ),
        ),
        (
            "model_5_gbt_clf",
            slices[4],
            lambda d: P.train_gbt_classifier(
                d,
                CLASSIFICATION_FEATURES,
                F.col(CLASSIFICATION_LABEL_SOURCE) > P.HIGH_PROTEIN_THRESHOLD,
            ),
        ),
    ]
    saved: dict[str, str] = {}
    for name, data, trainer in jobs:
        path = os.path.join(models_dir, name)
        try:
            model = trainer(data)
        except P.InsufficientDataError:
            continue
        P.save_model(model, path)
        saved[name] = path
    return saved
