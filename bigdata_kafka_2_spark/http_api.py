"""HTTP serving layer — the reference's curl-able surface (SURVEY §3.2).

The reference serves Flask endpoints: ``POST /predict/<model_id>`` and
``GET /health`` (``api_server/api.py:172-269``) plus the documented
Parquet query API ``GET /find_allergen/<model>?allergy=`` /
``/food_details/<model>/<fdc_id>`` / ``/stats/<model>``
(``README.md:116-132`` — documented surface only; no reference
implementation exists, so the JSON shapes there are ours).

Implementation is stdlib ``http.server`` (no Flask in the container) in
a thin adapter over the framework-free :mod:`~bigdata_kafka_2_spark.
serving` logic. Response shapes mirror the reference exactly:

- predict: ``{"model_id", "model_type", "input_processed", ...}`` with
  the per-type keys ``cluster`` (``api.py:203``), ``recommendations``
  (``api.py:215``), ``predicted_energy_kcal`` (``api.py:224``),
  ``is_high_protein`` / ``probability_is_high_protein``
  (``api.py:233-234``).
- health: ``{"overall_status", "operational_models",
  "total_expected_models", "details"}`` with 503 when unhealthy
  (``api.py:240-269``).
- errors: 400 invalid model_id / bad JSON, 404 model not operational,
  500 prediction failure (``api.py:174-238`` status mapping).

The "model1/model2/model3" path segment of the query API names a
processed dataset slice (the reference's cumulative batch portions,
``README.md:117-121``); here it keys into a caller-supplied dict of
DataFrames, each wrapped once, at construction, in a
:class:`serving.QueryTable`. A table whose size estimate fits Spark's
broadcast cap (``spark.sql.autoBroadcastJoinThreshold``) is collected
then and every lookup is answered from driver memory, with no Spark job
per request; a larger one, at scale a partitioned serving table, stays
in Spark (predicate-pushed point/substring scans, only the bounded
result rows collected). ``decisions`` records each table's gate.
"""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from typing import Any
from urllib.parse import parse_qs, urlparse

from pyspark.sql import DataFrame

from bigdata_kafka_2_spark import serving

#: Cap on rows returned by a find_allergen listing — serving responses
#: are bounded; pagination, not bigger collects, is the scale lever.
MAX_LIST_ROWS = 100


def _predict_response(
    server: serving.ModelServer, model_id: int, payload: dict[str, Any]
) -> dict[str, Any]:
    """Adapt ModelServer.predict output to the reference response shape
    (``api.py:190-236``)."""
    out = server.predict(model_id, payload)
    mtype = out.pop("model_type")
    resp: dict[str, Any] = {
        "model_id": model_id,
        "model_type": mtype,
        "input_processed": serving.coerce_features(
            payload, server.feature_cols[model_id]
        ),
    }
    if mtype == "clustering":
        resp["cluster"] = out["cluster"]
    elif mtype == "recommendation":
        resp["recommendations"] = out["recommendations"]
    elif mtype == "regression":
        resp["predicted_energy_kcal"] = out["prediction"]
    else:  # classification
        resp["is_high_protein"] = out["predicted_label"]
        resp["probability_is_high_protein"] = out["probability_high"]
    return resp


def _health_response(server: serving.ModelServer) -> tuple[int, dict[str, Any]]:
    """Reference health shape + status-code mapping (``api.py:240-269``)."""
    h = server.health()
    details = {
        f"model_{mid}_{info['type']}": (
            "operational" if info["operational"] else "not_operational"
        )
        for mid, info in h["models"].items()
    }
    code = 503 if h["status"] == "unhealthy" else 200
    return code, {
        "overall_status": h["status"],
        "operational_models": h["operational_models"],
        "total_expected_models": len(h["models"]),
        "details": details,
    }


class EngineHTTPServer:
    """The curl-able engine API: predict + health + the documented
    Parquet query endpoints, over :class:`serving.ModelServer` and a
    named dict of query tables."""

    def __init__(
        self,
        model_server: serving.ModelServer,
        query_tables: dict[str, DataFrame] | None = None,
        host: str = "127.0.0.1",
        port: int = 0,
    ):
        self.model_server = model_server
        self.query_tables = {
            name: serving.QueryTable(t) for name, t in (query_tables or {}).items()
        }
        self.decisions = {name: t.decision for name, t in self.query_tables.items()}
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet test runs
                pass

            def _send(self, code: int, obj: dict[str, Any]) -> None:
                body = json.dumps(obj).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def do_GET(self):  # noqa: N802 (http.server API)
                url = urlparse(self.path)
                parts = [p for p in url.path.split("/") if p]
                try:
                    if parts == ["health"]:
                        self._send(*_health_response(outer.model_server))
                    elif len(parts) == 2 and parts[0] == "find_allergen":
                        self._find_allergen(parts[1], parse_qs(url.query))
                    elif len(parts) == 3 and parts[0] == "food_details":
                        self._food_details(parts[1], parts[2])
                    elif len(parts) == 2 and parts[0] == "stats":
                        self._stats(parts[1])
                    else:
                        self._send(404, {"error": "unknown endpoint"})
                except Exception:
                    # Log server-side; never echo raw exception text to
                    # the client (stack details can leak paths/schema).
                    import traceback

                    traceback.print_exc()
                    self._send(500, {"error": "query failed"})

            def _table(self, name: str) -> serving.QueryTable | None:
                t = outer.query_tables.get(name)
                if t is None:
                    self._send(
                        404,
                        {
                            "error": f"unknown model dataset '{name}'",
                            "available": sorted(outer.query_tables),
                        },
                    )
                return t

            def _find_allergen(self, name: str, qs: dict) -> None:
                table = self._table(name)
                if table is None:
                    return
                terms = qs.get("allergy")
                if not terms or not terms[0]:
                    self._send(400, {"error": "missing ?allergy= parameter"})
                    return
                total, rows = table.find_allergen(terms[0], MAX_LIST_ROWS)
                self._send(
                    200,
                    {
                        "allergen": terms[0],
                        "match_count": total,
                        "returned_count": len(rows),
                        "truncated": total > len(rows),
                        "foods": rows,
                    },
                )

            def _food_details(self, name: str, fdc_id: str) -> None:
                table = self._table(name)
                if table is None:
                    return
                try:
                    key = int(fdc_id)
                    if not -(2**63) <= key < 2**63:  # fits no Spark integral type
                        raise ValueError(fdc_id)
                except ValueError:
                    self._send(400, {"error": f"invalid fdc_id '{fdc_id}'"})
                    return
                row = table.food_details(key)
                if row is None:
                    self._send(404, {"error": f"fdc_id {key} not found"})
                    return
                self._send(200, row)

            def _stats(self, name: str) -> None:
                table = self._table(name)
                if table is None:
                    return
                self._send(200, table.stats())

            def do_POST(self):  # noqa: N802
                parts = [p for p in urlparse(self.path).path.split("/") if p]
                if len(parts) != 2 or parts[0] != "predict":
                    self._send(404, {"error": "unknown endpoint"})
                    return
                try:
                    model_id = int(parts[1])
                except ValueError:
                    self._send(400, {"error": f"invalid model_id '{parts[1]}'"})
                    return
                n = int(self.headers.get("Content-Length") or 0)
                try:
                    payload = json.loads(self.rfile.read(n) or b"{}")
                    if not isinstance(payload, dict):
                        raise ValueError("payload must be a JSON object")
                except ValueError as e:
                    self._send(400, {"error": f"bad JSON body: {e}"})
                    return
                try:
                    self._send(
                        200, _predict_response(outer.model_server, model_id, payload)
                    )
                except ValueError as e:  # invalid model_id (api.py:174-175)
                    self._send(400, {"error": str(e)})
                except RuntimeError as e:  # not operational (api.py:196 → 404)
                    self._send(404, {"error": str(e)})
                except Exception as e:  # prediction failure (api.py:237-238)
                    self._send(500, {"error": "Prediction failed", "details": str(e)})

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def address(self) -> tuple[str, int]:
        return self._httpd.server_address[:2]

    @property
    def url(self) -> str:
        host, port = self.address
        return f"http://{host}:{port}"

    def start(self) -> "EngineHTTPServer":
        self._thread = threading.Thread(
            target=self._httpd.serve_forever, name="engine-http", daemon=True
        )
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread is not None:
            self._thread.join(timeout=5)
            self._thread = None
        for t in self.query_tables.values():
            t.close()

    def __enter__(self) -> "EngineHTTPServer":
        return self.start()

    def __exit__(self, *exc) -> None:
        self.stop()
