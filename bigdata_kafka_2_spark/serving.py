"""Model-serving layer (SURVEY.md §3.2, §3.3 — api.py re-expressed).

The reference serves five models over Flask (``api.py:172-238``) plus a
documented Parquet query API (``README.md:116-132``). The engine keeps
serving framework-free: this module is the pure logic an HTTP layer
would wrap — uniform model loading, single-row inference, the allergen
query endpoints, and health introspection.

Differences from the reference, by design (SURVEY §7.8):

- all five model types load via one ``PipelineModel.load`` (vs
  ``api.py:73-157``'s per-type paths);
- KNN top-k runs in Spark against the distributed serving table (vs
  collect + sklearn, ``api.py:104-122``); only the probe is built on
  the driver, from the loaded scaler's mean and std, so a predict is
  one Spark job;
- the query API's tables are gated once, when :class:`QueryTable`
  wraps them: a table whose Catalyst size estimate fits Spark's
  ``spark.sql.autoBroadcastJoinThreshold`` (the broadcast cap) is
  collected once and answered from driver memory with no Spark job per
  request (as ``api.py:104-122`` does for its data); a larger one, or
  any table with the threshold at -1, is queried in Spark per request;
- whole-stage codegen stays ON — no per-request toggle (``api.py:58``).
"""

from __future__ import annotations

import os
from typing import Any, Callable

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdata_kafka_2_spark.ml import knn as KNN
from bigdata_kafka_2_spark.ml import pipelines as P
from bigdata_kafka_2_spark.operators.common import pin, unpin

#: Reference model-id → type map (api.py:19-22).
MODEL_TYPES = {
    1: "clustering",
    2: "clustering",
    3: "recommendation",
    4: "regression",
    5: "classification",
}

_MODEL_DIRS = {
    1: "model_1_kmeans",
    2: "model_2_kmeans",
    3: "model_3_reco",
    4: "model_4_gbt_reg",
    5: "model_5_gbt_clf",
}


def coerce_features(
    payload: dict[str, Any], feature_cols: list[str]
) -> dict[str, float]:
    """The §1.2 coercion policy at the API edge (``api.py:159-170``):
    every expected feature read with default 0.0 (``api.py:164``);
    unparseable values also degrade to 0.0 (the reference would 500 on
    a non-numeric payload value). This is also the ``input_processed``
    echo the reference returns in every predict response."""

    def _coerce(v) -> float:
        try:
            return float(v)
        except (TypeError, ValueError):
            return 0.0

    return {c: _coerce(payload.get(c, 0.0)) for c in feature_cols}


def create_input_df(
    spark: SparkSession, payload: dict[str, Any], feature_cols: list[str]
) -> DataFrame:
    """Single-row inference DataFrame from a JSON-ish payload (S10,
    ``api.py:159-170``), all-double schema via :func:`coerce_features`."""
    values = list(coerce_features(payload, feature_cols).values())
    schema = T.StructType(
        [T.StructField(c, T.DoubleType(), True) for c in feature_cols]
    )
    return spark.createDataFrame([values], schema=schema)


def scaled_probe(model) -> Callable[[dict[str, float]], np.ndarray]:
    """Model 3's assemble → z-score as a driver-side function of the
    coerced features, equal bit for bit to ``model.transform`` on the
    same row and launching no Spark job.

    ``StandardScalerModel`` computes ``(x - mean) * scale`` in float64,
    ``scale = 1 / std`` or 0 where std is 0; both are read once, here.
    A NaN feature fails as the assembler makes it fail (``skip`` drops
    the row, ``error`` raises), unless ``handleInvalid`` is ``keep``.
    Raises ``ValueError`` for any other pipeline shape.
    """
    from pyspark.ml.feature import StandardScalerModel, VectorAssembler

    stages = model.stages
    if not (
        len(stages) == 2
        and isinstance(stages[0], VectorAssembler)
        and isinstance(stages[1], StandardScalerModel)
        and stages[1].getWithMean()
        and stages[1].getWithStd()
        and stages[1].getInputCol() == stages[0].getOutputCol()
        and stages[1].getOutputCol() == "scaled_features"
    ):
        raise ValueError(
            "model 3 is not VectorAssembler + StandardScalerModel"
            "(withMean, withStd) → scaled_features: "
            + ", ".join(type(s).__name__ for s in stages)
        )
    assembler, scaler = stages
    cols = assembler.getInputCols()
    keep_nan = assembler.getHandleInvalid() == "keep"
    mean = scaler.mean.toArray()
    std = scaler.std.toArray()
    scale = np.divide(1.0, std, out=np.zeros_like(std), where=std != 0.0)

    def probe(features: dict[str, float]) -> np.ndarray:
        x = np.array([features[c] for c in cols], dtype=np.float64)
        if not keep_nan and np.isnan(x).any():
            raise ArithmeticError(f"NaN feature: the assembler drops the row ({cols})")
        x[x == 0.0] = 0.0  # the assembler stores no zeros: -0.0 reads back as 0.0
        return (x - mean) * scale

    return probe


class ModelServer:
    """Loaded-model registry + prediction dispatch (``api.py`` lifecycle:
    load once at startup, serve many)."""

    def __init__(
        self,
        spark: SparkSession,
        models_dir: str,
        feature_cols_by_model: dict[int, list[str]],
        serving_table: DataFrame | None = None,
    ):
        self.spark = spark
        self.feature_cols = feature_cols_by_model
        self.models: dict[int, Any] = {}
        self.errors: dict[int, str] = {}
        for mid, sub in _MODEL_DIRS.items():
            path = os.path.join(models_dir, sub)
            try:
                self.models[mid] = P.load_model(path)
            except Exception as e:  # partial-state tolerance, api.py:143-151
                self.errors[mid] = str(e)[:200]
        self._probe = None
        if 3 in self.models:
            try:
                self._probe = scaled_probe(self.models[3])
            except ValueError as e:
                self.errors[3] = str(e)[:200]
                del self.models[3]
        # model 3 serving table: distributed, NOT collected (vs api.py:110)
        self.serving_table = serving_table
        if serving_table is not None:
            self.serving_table = pin(serving_table)

    def close(self) -> None:
        """Release the pinned KNN serving table, so a long-lived serving
        process holds no pin it no longer serves. Model 3 cannot
        predict after this."""
        if self.serving_table is not None:
            unpin(self.serving_table)

    # --- §3.2 predict dispatch (api.py:190-231) -------------------------

    def predict(self, model_id: int, payload: dict[str, Any]) -> dict[str, Any]:
        if model_id not in MODEL_TYPES:
            raise ValueError(f"unknown model_id {model_id} (valid: 1-5)")
        if model_id not in self.models:
            raise RuntimeError(
                f"model {model_id} not operational: "
                f"{self.errors.get(model_id, 'not loaded')}"
            )
        mtype = MODEL_TYPES[model_id]
        model = self.models[model_id]
        if mtype == "recommendation":
            return self._recommend(payload)
        df = create_input_df(self.spark, payload, self.feature_cols[model_id])
        out = model.transform(df)
        if mtype == "clustering":
            return {"model_type": mtype, "cluster": int(out.first()["prediction"])}
        if mtype == "regression":
            return {
                "model_type": mtype,
                "prediction": round(float(out.first()["prediction"]), 2),
            }
        from pyspark.ml.functions import vector_to_array

        row = out.select(
            "prediction",
            F.element_at(vector_to_array(F.col("probability")), 2).alias("p1"),
        ).first()
        return {
            "model_type": mtype,
            "predicted_label": int(row["prediction"]),
            "probability_high": round(float(row["p1"]), 4),
        }

    def _recommend(self, payload: dict[str, Any], k: int = 5) -> dict[str, Any]:
        """Model-3 KNN (api.py:201-212): the probe assembled and scaled
        on the driver (:func:`scaled_probe`), then Spark-native cosine
        top-k, the request's one Spark job."""
        if self.serving_table is None:
            raise RuntimeError("recommendation serving table not configured")
        probe = self._probe(coerce_features(payload, self.feature_cols[3]))
        neighbors = KNN.knn_lookup(self.serving_table, probe, k=k).collect()
        return {
            "model_type": "recommendation",
            "recommendations": [
                {"description": r.description, "distance": r.distance}
                for r in neighbors
            ],
        }

    # --- §3.3 health (api.py:240-269) -----------------------------------

    def health(self) -> dict[str, Any]:
        per_model = {
            mid: {
                "operational": mid in self.models
                and (mid != 3 or self.serving_table is not None),
                "type": MODEL_TYPES[mid],
            }
            for mid in MODEL_TYPES
        }
        n_ok = sum(1 for v in per_model.values() if v["operational"])
        status = (
            "healthy" if n_ok == len(per_model)
            else "degraded" if n_ok > 0
            else "unhealthy"
        )
        return {"status": status, "operational_models": n_ok, "models": per_model}


# --- Documented allergen query API (README.md:116-132) -------------------

def find_allergen(table: DataFrame, term: str) -> DataFrame:
    """``GET /find_allergen?allergy=term`` — lowercase substring match
    on ``ingredients`` (``README.md:116-120``, data lowercased per
    ``README.md:92``)."""
    from bigdata_kafka_2_spark.operators.relational import substring_filter

    return substring_filter(table, "ingredients", term)


def food_details(table: DataFrame, fdc_id: int) -> DataFrame:
    """``GET /food_details/<fdc_id>`` — point lookup (``README.md:122-126``)."""
    from bigdata_kafka_2_spark.operators.relational import point_lookup

    return point_lookup(table, "fdc_id", fdc_id)


def stats(table: DataFrame) -> dict[str, int]:
    """``GET /stats`` — record count (``README.md:128-132``)."""
    return {"record_count": table.count()}


class QueryTable:
    """One table of the query API, answered from driver memory when it
    is small, else in Spark by the functions above.

    The gate runs once, at construction: the table's Catalyst size
    estimate against ``spark.sql.autoBroadcastJoinThreshold``, the cap
    Spark already uses to decide a table is small enough to ship whole
    (-1 turns the resident path off, as it does for broadcasts). A table
    that fits is collected once, and its answers are the Spark path's:

    - rows keep ``collect()``'s Python types and the scan order, so the
      first ``limit`` matches and the first row of a duplicated
      ``fdc_id`` are the ones ``limit(...).collect()`` returns;
    - ``ingredients`` is lowered by Spark's own ``lower`` when the
      snapshot is taken, the term by Python's as in ``contains_term``,
      and a null ``ingredients`` never matches.

    A table whose ``fdc_id`` is not integral, or that lacks a query
    column, stays on the Spark path, whose implicit casts decide those
    matches. ``decision`` records the gate:
    ``{"est_bytes", "cap", "resident", "rows"}``.
    """

    def __init__(self, table: DataFrame):
        self.table = table
        jconf = table.sparkSession._jsparkSession.sessionState().conf()
        est = int(table._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
        cap = int(jconf.autoBroadcastJoinThreshold())
        types = {f.name: f.dataType for f in table.schema.fields}
        resident = (
            0 <= est <= cap
            and isinstance(types.get("fdc_id"), T.IntegralType)
            and types.get("ingredients") == T.StringType()
            and "description" in types
        )
        self._matchable: list[tuple[str, dict]] | None = None
        self._by_key: dict[int, dict] | None = None
        n_rows = None
        if resident:
            snap = table.select("*", F.lower("ingredients")).collect()
            rows = [dict(zip(table.columns, r[:-1])) for r in snap]
            self._matchable = [
                (r[-1], row) for r, row in zip(snap, rows) if r[-1] is not None
            ]
            self._by_key = {}
            for row in rows:
                self._by_key.setdefault(row["fdc_id"], row)
            n_rows = len(rows)
        self.decision = {
            "est_bytes": est, "cap": cap, "resident": resident, "rows": n_rows,
        }

    def find_allergen(self, term: str, limit: int) -> tuple[int, list[dict[str, Any]]]:
        """(match count, the first ``limit`` matches as
        ``{"fdc_id", "description"}``)."""
        matchable = self._matchable  # read once: close() may run meanwhile
        if matchable is None:
            matched = find_allergen(self.table, term).select("fdc_id", "description")
            # True total (cheap aggregate) so match_count keeps the
            # reference API's meaning even when the list is truncated.
            total = matched.count()
            return total, [r.asDict() for r in matched.limit(limit).collect()]
        t = term.lower()
        hits = [row for text, row in matchable if t in text]
        return len(hits), [
            {"fdc_id": r["fdc_id"], "description": r["description"]}
            for r in hits[:limit]
        ]

    def food_details(self, key: int) -> dict[str, Any] | None:
        """The first row, in scan order, whose ``fdc_id`` is ``key``."""
        by_key = self._by_key  # read once: close() may run meanwhile
        if by_key is None:
            rows = food_details(self.table, key).limit(1).collect()
            return rows[0].asDict() if rows else None
        return by_key.get(key)

    def stats(self) -> dict[str, int]:
        if self._by_key is None:
            return stats(self.table)
        return {"record_count": self.decision["rows"]}

    def close(self) -> None:
        """Drop the snapshot; later calls take the Spark path."""
        self._matchable = self._by_key = None
