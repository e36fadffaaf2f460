"""Spark-native KNN serving (SURVEY.md §2.8) — replaces the reference's
driver-side escape hatch (collect → pandas → sklearn
``NearestNeighbors(metric='cosine')``, ``api.py:104-122,201-212``).

Semantics preserved exactly: cosine distance, k=5 default, exact
search, results ascending by distance. The serving table stays a
distributed DataFrame; a probe is broadcast against it, so capacity is
bounded by cluster storage instead of driver RAM
(the reference's stated capacity bound, BASELINE.md). Unlike the query
API's tables, which ``serving.QueryTable`` collects to the driver when
their size estimate fits the broadcast cap, this table is not gated:
one top-k job per request whatever its size. Only the probe is built on
the driver (``serving.scaled_probe``), so that job is the request's
only one.

Vectors here are plain ``array<double>`` columns (the storage/API
boundary form, SURVEY §1.2) — use ``vector_to_array`` on
``scaled_features`` when feeding from an ML pipeline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdata_kafka_2_spark.functions import cosine_similarity


def knn_lookup(
    serving: DataFrame,
    probe_vec: list[float],
    k: int = 5,
    vec_col: str = "scaled_vec",
    label_col: str = "description",
) -> DataFrame:
    """Top-k nearest rows to one probe vector: (label, distance).

    ``distance = 1 - cosine_similarity`` (sklearn's cosine distance,
    ``api.py:119``), ascending, ties broken on the label for
    determinism. The probe is a literal array folded into the plan —
    single scan, no shuffle, TakeOrderedAndProject top-k.
    """
    import numpy as np

    probe = F.lit(np.asarray(probe_vec, dtype=np.float64))
    dist = 1.0 - cosine_similarity(F.col(vec_col), probe)
    return (
        serving.select(
            F.col(label_col).alias("description"),
            F.round(dist, 4).alias("distance"),
        )
        .orderBy(F.col("distance").asc(), F.col("description").asc())
        .limit(k)
    )


def knn_serving_table(
    model,
    df: DataFrame,
    id_cols: tuple[str, ...] = ("description",),
    vec_col: str = "scaled_vec",
) -> DataFrame:
    """Build the persistent serving table the reference writes as
    Parquet (``spark_model_trainer.py:105-110``): id columns + the
    z-scored vector as ``array<double>``.

    ``model`` is the PipelineModel from
    ``pipelines.train_scaled_features``.
    """
    from pyspark.ml.functions import vector_to_array

    return model.transform(df).select(
        *id_cols, vector_to_array(F.col("scaled_features")).alias(vec_col)
    )
