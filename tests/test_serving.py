"""Serving layer (§3.2/§3.3): predict dispatch for all five model
types, health states, and the documented allergen query API."""

from __future__ import annotations

import contextlib
import datetime
from decimal import Decimal

import numpy as np
import pytest
from pyspark.sql import types as T

from bigdata_kafka_2_spark import etl, serving
from bigdata_kafka_2_spark.ml import knn, pipelines as P

# reuse the food fixture from the ML tests
from tests.test_ml_etl import food_csv_dir  # noqa: F401

FEATURES_BY_MODEL = {
    1: etl.CLUSTER_FEATURES,
    2: etl.CLUSTER_FEATURES,
    3: etl.CLUSTER_FEATURES,
    4: etl.REGRESSION_FEATURES,
    5: etl.CLASSIFICATION_FEATURES,
}


@pytest.fixture(scope="module")
def server(spark, food_csv_dir, tmp_path_factory):  # noqa: F811
    models_dir = str(tmp_path_factory.mktemp("serving_models"))
    saved = etl.train_all_models(spark, food_csv_dir, models_dir)
    assert len(saved) == 5
    df = etl.ingest_batches(spark, food_csv_dir)
    table = knn.knn_serving_table(P.load_model(saved["model_3_reco"]), df)
    server = serving.ModelServer(spark, models_dir, FEATURES_BY_MODEL, table)
    yield server
    server.close()


def test_predict_clustering(server):
    out = server.predict(1, {"Protein-G": 20.0, "Energy-KCAL": 300.0})
    assert out["model_type"] == "clustering"
    assert out["cluster"] in range(P.KMEANS_K)


def test_predict_regression(server):
    out = server.predict(4, {"Protein-G": 30.0, "Total lipid (fat)-G": 10.0,
                             "Carbohydrate, by difference-G": 20.0})
    assert out["model_type"] == "regression"
    assert isinstance(out["prediction"], float)


def test_predict_classification(server):
    out = server.predict(5, {"Total lipid (fat)-G": 5.0})
    assert out["model_type"] == "classification"
    assert out["predicted_label"] in (0, 1)
    assert 0.0 <= out["probability_high"] <= 1.0


def test_predict_recommendation(server):
    out = server.predict(3, {"Protein-G": 25.0, "Energy-KCAL": 400.0})
    recs = out["recommendations"]
    assert len(recs) == 5
    dists = [r["distance"] for r in recs]
    assert dists == sorted(dists)  # ascending cosine distance


def test_predict_missing_features_default_zero(server):
    # api.py:164 semantics: absent features read as 0.0
    out = server.predict(1, {})
    assert out["cluster"] in range(P.KMEANS_K)


def test_predict_unknown_model(server):
    with pytest.raises(ValueError):
        server.predict(9, {})


def test_health_states(server, spark, tmp_path):
    h = server.health()
    assert h["status"] == "healthy" and h["operational_models"] == 5

    broken = serving.ModelServer(
        spark, str(tmp_path / "empty"), FEATURES_BY_MODEL, None
    )
    hb = broken.health()
    assert hb["status"] == "unhealthy" and hb["operational_models"] == 0


def test_allergen_query_api(spark):
    table = spark.createDataFrame(
        [
            (1, "Milk Chocolate", "sugar, MILK solids, cocoa"),
            (2, "Dark Chocolate", "cocoa, sugar"),
            (3, "Peanut Bar", "peanuts, sugar, milk powder"),
        ],
        ["fdc_id", "description", "ingredients"],
    )
    hits = serving.find_allergen(table, "Milk").collect()
    assert sorted(r.fdc_id for r in hits) == [1, 3]  # case-insensitive
    row = serving.food_details(table, 2).collect()
    assert len(row) == 1 and row[0].description == "Dark Chocolate"
    assert serving.stats(table) == {"record_count": 3}


# --- driver-side model-3 probe ---------------------------------------------


def _transform_probe(spark, model, payload, feature_cols):
    """The probe as Spark computes it: assemble + scale one row."""
    from pyspark.ml.functions import vector_to_array

    df = serving.create_input_df(spark, payload, feature_cols)
    row = model.transform(df).select(
        vector_to_array("scaled_features").alias("v")
    ).first()
    return np.asarray(row["v"], dtype=np.float64)


def _assert_bitwise_equal(a, b):
    assert a.tobytes() == b.tobytes(), (a, b)


@pytest.mark.parametrize(
    "payload",
    [
        {},  # every feature missing → 0.0
        {"Protein-G": "abc", "Energy-KCAL": None},  # unparseable → 0.0
        {"Protein-G": 25.0, "Energy-KCAL": 400.0, "Sugars, total including NLEA-G": -0.0},
        {c: 1e300 for c in etl.CLUSTER_FEATURES},
    ],
)
def test_probe_matches_transform_bitwise(server, spark, payload):
    cols = FEATURES_BY_MODEL[3]
    probe = server._probe(serving.coerce_features(payload, cols))
    _assert_bitwise_equal(
        probe, _transform_probe(spark, server.models[3], payload, cols)
    )


def test_probe_zero_variance_feature_bitwise(spark):
    cols = ["a", "const", "zero", "b"]
    df = spark.createDataFrame(
        [(1.0, 5.0, 0.0, 2.0), (3.0, 5.0, 0.0, -2.0), (7.5, 5.0, 0.0, 0.0)], cols
    )
    model = P.train_scaled_features(df, cols)
    probe = serving.scaled_probe(model)
    # const below / above / at its mean: scale 0 gives -0.0, 0.0, 0.0;
    # -0.0 on a mean-0 feature reads as 0.0, as the assembler stores it
    for payload in (
        {"a": 2.0, "const": 1.0},
        {"const": 9.0, "b": "x"},
        {"const": 5.0},
        {"zero": -0.0, "b": -0.0, "a": -0.0},
    ):
        got = probe(serving.coerce_features(payload, cols))
        _assert_bitwise_equal(got, _transform_probe(spark, model, payload, cols))


def test_probe_nan_feature_fails(server):
    # VectorAssembler(handleInvalid="skip") drops a NaN row, so there is
    # no probe; the request fails (HTTP 500), as the Spark path did
    with pytest.raises(ArithmeticError):
        server.predict(3, {"Protein-G": "nan"})


def test_probe_rejects_other_model_shapes(spark, tmp_path):
    from pyspark.ml import PipelineModel
    from pyspark.ml.feature import VectorAssembler

    assembler_only = PipelineModel(
        stages=[VectorAssembler(inputCols=["a"], outputCol="features")]
    )
    with pytest.raises(ValueError):
        serving.scaled_probe(assembler_only)
    P.save_model(assembler_only, str(tmp_path / "model_3_reco"))
    loaded = serving.ModelServer(spark, str(tmp_path), FEATURES_BY_MODEL, None)
    assert 3 not in loaded.models and "StandardScalerModel" in loaded.errors[3]


def test_close_releases_serving_table(spark, tmp_path):
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keys())
    server = serving.ModelServer(
        spark, str(tmp_path / "none"), FEATURES_BY_MODEL,
        spark.range(50).selectExpr("id", "cast(id AS string) AS description"),
    )
    server.serving_table.count()  # materialize the pin
    pinned = set(jsc.getPersistentRDDs().keys()) - before
    assert pinned
    server.close()
    assert not pinned & set(jsc.getPersistentRDDs().keys())


# --- QueryTable: resident vs Spark path --------------------------------------

QUERY_SCHEMA = T.StructType(
    [
        T.StructField("fdc_id", T.LongType()),
        T.StructField("description", T.StringType()),
        T.StructField("ingredients", T.StringType()),
        T.StructField("price", T.DecimalType(10, 2)),
        T.StructField("added", T.DateType()),
        T.StructField("kcal", T.DoubleType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
    ]
)

TEXTS = [
    "Sugar, MILK solids, cocoa",
    "cocoa, sugar",
    None,
    "İstanbul hazelnuts, ẞ-milk",
    "Straße SALZ, Milch",
    "ΣΑΣ ΣΑΣ. honey",
    "ΌΣ wheat; aΣ b",
    "peanuts, sugar, milk powder",
    # recent capitals (U+A7CC, U+1C89) that Spark's ICU lower maps but
    # an older Python Unicode table leaves as they are
    "\ua7cc-flour, \u1c89 oats",
]

#: Terms covering truncation (milk: > MAX_LIST_ROWS hits), no hits,
#: and the mixed-case / non-ASCII text where Python's and Spark's
#: lowercasing could part ways.
TERMS = ["milk", "MILK", "zzz", "İ", "i̇stanbul", "ß", "ẞ", "strasse", "σας", "ΣΑΣ",
         "ς", "όσ", "Σ b", "\ua7cd", "\ua7cc", "\u1c8a", ",", ""]


def query_rows(n: int = 400) -> list[tuple]:
    rows = []
    for i in range(n):
        fid = None if i == 17 else 1000 + (i % 350)  # 50 duplicated keys
        rows.append((
            fid,
            f"food {i}",
            TEXTS[i % len(TEXTS)],
            Decimal(i) / 4,
            datetime.date(2020, 1, 1) + datetime.timedelta(days=i),
            i * 0.1,
            [f"t{i % 3}"],
        ))
    return rows


@pytest.fixture(scope="module")
def query_parquet(spark, tmp_path_factory):
    """A multi-file parquet table, so scan order spans files."""
    path = str(tmp_path_factory.mktemp("query_table") / "t.parquet")
    spark.createDataFrame(query_rows(), QUERY_SCHEMA).repartition(5).write.parquet(path)
    return path


@contextlib.contextmanager
def resident_path_off(spark):
    """Query tables wrapped inside take the Spark path, as any table
    does with the broadcast cap at -1."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    cap = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        yield
    finally:
        spark.conf.set(key, cap)


def test_query_table_resident_equals_spark_path(spark, query_parquet):
    df = spark.read.parquet(query_parquet)
    resident = serving.QueryTable(df)
    with resident_path_off(spark):
        remote = serving.QueryTable(df)
    assert resident.decision["resident"] and resident.decision["rows"] == 400
    assert 0 < resident.decision["est_bytes"] <= resident.decision["cap"]
    assert remote.decision == {
        "est_bytes": resident.decision["est_bytes"], "cap": -1,
        "resident": False, "rows": None,
    }
    for term in TERMS:
        for limit in (0, 5, 100):
            assert resident.find_allergen(term, limit) == remote.find_allergen(
                term, limit
            ), (term, limit)
    total, rows = resident.find_allergen("milk", 100)
    assert total > len(rows) == 100  # truncated
    for key in (1000, 1049, 1200, 1349, 1350, 5, -1):  # 1000-1049 duplicated
        got = resident.food_details(key)
        assert got == remote.food_details(key), key
        assert got is None or type(got["price"]) is Decimal
    assert resident.stats() == remote.stats() == {"record_count": 400}
    resident.close()  # dropped snapshot: the Spark path answers
    assert resident.find_allergen("milk", 7) == remote.find_allergen("milk", 7)

