"""HTTP serving layer end-to-end: curl-able parity with the reference's
Flask surface (api.py:172-269 response shapes + status codes, and the
README.md:116-132 query endpoints)."""

from __future__ import annotations

import json
import urllib.error
import urllib.parse
import urllib.request

import pytest

from bigdata_kafka_2_spark import etl, http_api, serving
from bigdata_kafka_2_spark.ml import knn, pipelines as P

# reuse the food fixture from the ML tests
from tests.test_ml_etl import food_csv_dir  # noqa: F401
from tests.test_serving import (  # noqa: F401
    FEATURES_BY_MODEL,
    TERMS,
    query_parquet,
    resident_path_off,
)


def _query_table(spark, path: str):
    """A processed-food slice with the README query-API columns
    (fdc_id, description, ingredients — lowercased per README.md:92),
    read back from parquet as a served slice is."""
    spark.createDataFrame(
        [
            (1, "milk chocolate", "sugar, milk solids, cocoa"),
            (2, "dark chocolate", "cocoa, sugar"),
            (3, "peanut bar", "peanuts, sugar, milk powder"),
            (4, "apple juice", "apples, water"),
        ],
        ["fdc_id", "description", "ingredients"],
    ).write.parquet(path)
    return spark.read.parquet(path)


@pytest.fixture(scope="module")
def api_server(spark, food_csv_dir, tmp_path_factory):  # noqa: F811
    base = tmp_path_factory.mktemp("http_models")
    models_dir = str(base / "models")
    saved = etl.train_all_models(spark, food_csv_dir, models_dir)
    df = etl.ingest_batches(spark, food_csv_dir)
    table = knn.knn_serving_table(P.load_model(saved["model_3_reco"]), df)
    server = serving.ModelServer(spark, models_dir, FEATURES_BY_MODEL, table)
    # README's model1/2/3 are cumulative dataset slices; one is enough
    # to exercise the routing + table dispatch.
    query = _query_table(spark, str(base / "model1.parquet"))
    with http_api.EngineHTTPServer(server, {"model1": query}) as srv:
        yield srv
    server.close()


@pytest.fixture(scope="module")
def api(api_server):
    return api_server.url


def _get(url: str):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def _post(url: str, payload) -> tuple[int, dict]:
    req = urllib.request.Request(
        url,
        data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"},
        method="POST",
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_health_shape(api):
    code, body = _get(f"{api}/health")
    assert code == 200
    # reference shape, api.py:263-268
    assert body["overall_status"] == "healthy"
    assert body["operational_models"] == 5
    assert body["total_expected_models"] == 5
    assert body["details"]["model_1_clustering"] == "operational"
    assert body["details"]["model_5_classification"] == "operational"


def test_predict_clustering_shape(api):
    code, body = _post(
        f"{api}/predict/1", {"Protein-G": 20.0, "Energy-KCAL": 300.0}
    )
    assert code == 200
    # reference keys, api.py:192/203
    assert body["model_id"] == 1 and body["model_type"] == "clustering"
    assert body["cluster"] in range(P.KMEANS_K)
    # input_processed echoes the coerced payload incl. defaulted features
    assert body["input_processed"]["Protein-G"] == 20.0
    assert body["input_processed"]["Carbohydrate, by difference-G"] == 0.0


def test_predict_recommendation_shape(api):
    code, body = _post(
        f"{api}/predict/3", {"Protein-G": 25.0, "Energy-KCAL": 400.0}
    )
    assert code == 200
    recs = body["recommendations"]  # api.py:215
    assert len(recs) == 5
    assert {"description", "distance"} <= set(recs[0])
    dists = [r["distance"] for r in recs]
    assert dists == sorted(dists)


def test_predict_regression_and_classification_shapes(api):
    code, body = _post(f"{api}/predict/4", {"Protein-G": 30.0})
    assert code == 200
    assert isinstance(body["predicted_energy_kcal"], float)  # api.py:224

    code, body = _post(f"{api}/predict/5", {"Total lipid (fat)-G": 5.0})
    assert code == 200
    assert body["is_high_protein"] in (0, 1)  # api.py:233
    assert 0.0 <= body["probability_is_high_protein"] <= 1.0


def test_predict_error_codes(api):
    code, _ = _post(f"{api}/predict/9", {})  # api.py:174-175 → 400
    assert code == 400
    code, _ = _post(f"{api}/predict/abc", {})
    assert code == 400
    req = urllib.request.Request(
        f"{api}/predict/1", data=b"not json", method="POST"
    )
    try:
        with urllib.request.urlopen(req) as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 400


def test_predict_unloaded_model_404(spark, tmp_path):
    broken = serving.ModelServer(
        spark, str(tmp_path / "none"), FEATURES_BY_MODEL, None
    )
    with http_api.EngineHTTPServer(broken) as srv:
        code, _ = _post(f"{srv.url}/predict/1", {})
        assert code == 404  # api.py:196 → 404 when not loaded
        code, body = _get(f"{srv.url}/health")
        assert code == 503  # api.py:266 unhealthy → 503
        assert body["overall_status"] == "unhealthy"


def test_find_allergen_endpoint(api):
    # case-insensitive substring on ingredients (README.md:116-120)
    code, body = _get(f"{api}/find_allergen/model1?allergy=Milk")
    assert code == 200
    assert body["allergen"] == "Milk"
    assert body["match_count"] == len(body["foods"]) == 2
    assert sorted(f["fdc_id"] for f in body["foods"]) == [1, 3]
    # unknown dataset slice → 404 (README names model1..model3)
    code, _ = _get(f"{api}/find_allergen/model9?allergy=milk")
    assert code == 404
    # missing parameter → 400
    code, _ = _get(f"{api}/find_allergen/model1")
    assert code == 400


def test_food_details_and_stats_endpoints(api):
    code, body = _get(f"{api}/food_details/model1/2")
    assert code == 200
    assert body == {
        "fdc_id": 2,
        "description": "dark chocolate",
        "ingredients": "cocoa, sugar",
    }

    code, _ = _get(f"{api}/food_details/model1/999999999")
    assert code == 404
    code, _ = _get(f"{api}/food_details/model1/not-an-id")
    assert code == 400

    code, body = _get(f"{api}/stats/model1")
    assert code == 200 and body == {"record_count": 4}


def test_predict_nan_feature_500(api):
    # VectorAssembler(handleInvalid="skip") drops the row: no probe
    code, body = _post(f"{api}/predict/3", {"Protein-G": "nan"})
    assert code == 500 and body["error"] == "Prediction failed"


def test_resident_requests_launch_no_spark_job(api_server, spark):
    """Guard: small query tables are answered from driver memory, and a
    KNN predict is its one top-k job. Counts the jobs outside any job
    group launched by a batch of requests."""
    assert api_server.decisions["model1"]["resident"]
    tracker = spark.sparkContext.statusTracker()
    bus = spark.sparkContext._jsc.sc().listenerBus()
    url = api_server.url

    def jobs_launched(*requests) -> int:
        bus.waitUntilEmpty()
        before = set(tracker.getJobIdsForGroup(None))
        for request in requests:
            assert request()[0] == 200
        bus.waitUntilEmpty()
        return len(set(tracker.getJobIdsForGroup(None)) - before)

    lookups = [
        lambda: _get(f"{url}/find_allergen/model1?allergy=milk"),
        lambda: _get(f"{url}/food_details/model1/3"),
        lambda: _get(f"{url}/stats/model1"),
    ]
    assert jobs_launched(*lookups * 3) == 0

    def predict():
        return _post(f"{url}/predict/3", {"Protein-G": 25.0})

    assert jobs_launched(predict) == 1
    assert jobs_launched(predict, predict) == 2


def test_resident_and_spark_path_responses_identical(spark, query_parquet, tmp_path):
    """One table on two servers: resident, and with the resident path
    off (autoBroadcastJoinThreshold=-1). Every response must match."""
    table = spark.read.parquet(query_parquet).select(
        "fdc_id", "description", "ingredients", "kcal", "tags"
    )
    strkey_path = str(tmp_path / "strkey.parquet")
    spark.createDataFrame(
        [("7", "a", "milk"), ("07", "b", "MILK"), ("x", "c", None)],
        "fdc_id string, description string, ingredients string",
    ).write.parquet(strkey_path)
    tables = {"t": table, "strkey": spark.read.parquet(strkey_path)}
    models = serving.ModelServer(spark, str(tmp_path / "none"), FEATURES_BY_MODEL)
    resident = http_api.EngineHTTPServer(models, tables)
    with resident_path_off(spark):
        remote = http_api.EngineHTTPServer(models, tables)
    assert resident.decisions["t"]["resident"] and resident.decisions["t"]["rows"] == 400
    assert not remote.decisions["t"]["resident"]
    strkey = resident.decisions["strkey"]  # a non-integral key stays in Spark
    assert not strkey["resident"] and strkey["rows"] is None

    paths = [
        f"/find_allergen/t?allergy={urllib.parse.quote(term)}" for term in TERMS if term
    ] + [
        f"/food_details/t/{k}"
        for k in ("1000", "1049", "1349", "1350", "-5", str(2**63), "nope")
    ] + ["/stats/t", "/stats/strkey", "/find_allergen/strkey?allergy=Milk"]
    with resident, remote:
        for path in paths:
            got = _get(resident.url + path)
            assert got == _get(remote.url + path), path
        _, body = _get(resident.url + "/find_allergen/t?allergy=milk")
    assert body["truncated"] and body["returned_count"] == http_api.MAX_LIST_ROWS
