"""Open-loop HTTP load generator for the ``pipeline`` workload.

Runs as its own process with at most ``threads`` worker threads (one
connection each). Request i is due at ``t0 + i / rate``; the dispatcher
hands it to a worker at its due time whether or not earlier requests
have finished, and every latency is timed from the due time, so a stall
also counts against the requests queued behind it.

The mix cycles through one fixed block of operations (food_details,
find_allergen three times, stats and a KNN predict), so every run at a
given count sends the same operations in the same order and requests
overlap the same way; the seed only varies the data and payloads.
Reads a JSON spec on stdin and writes one JSON line per request, then
a summary line.
"""

from __future__ import annotations

import json
import queue
import sys
import threading
import time
import urllib.error
import urllib.request

#: One block of the mix. The allergen search comes three times in six,
#: so the median lands inside its latency band, never between two
#: operations. One KNN predict (the served model, the most expensive
#: call) per block keeps the offered load well under capacity.
OPS = ("details", "allergen", "stats", "allergen", "predict", "allergen")


def schedule(count: int) -> list[str]:
    return [OPS[i % len(OPS)] for i in range(count)]


def request(base: str, op: str, spec: dict) -> tuple[int, dict]:
    if op == "details":
        url, data = f"{base}/food_details/model1/{spec['detail_id']}", None
    elif op == "allergen":
        url, data = f"{base}/find_allergen/model1?allergy={spec['allergen']}", None
    elif op == "stats":
        url, data = f"{base}/stats/model1", None
    else:
        url = f"{base}/predict/{spec['model_id']}"
        data = json.dumps(spec["payload"]).encode()
    req = urllib.request.Request(
        url, data=data, headers={"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req, timeout=60) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, {}


def check(op: str, code: int, body: dict, spec: dict) -> bool:
    """Shape and known-answer check of one response."""
    if code != 200:
        return False
    if op == "details":
        return body.get("fdc_id") == spec["detail_id"] and (
            body.get("description") == spec["detail_description"]
        )
    if op == "allergen":
        return body.get("match_count") == spec["allergen_count"]
    if op == "stats":
        return body.get("record_count") == spec["record_count"]
    return body.get("model_id") == spec["model_id"] and "recommendations" in body


def main() -> int:
    spec = json.loads(sys.stdin.readline())
    ops = schedule(spec["count"])
    rate = spec["rate"]
    jobs: queue.Queue = queue.Queue()
    results: list[dict] = []
    lock = threading.Lock()

    def worker():
        while True:
            item = jobs.get()
            if item is None:
                return
            i, op, due = item
            sent = time.monotonic()
            try:
                code, body = request(spec["url"], op, spec)
            except (OSError, ValueError):
                code, body = 0, {}
            done = time.monotonic()
            rec = {
                "i": i,
                "op": op,
                "latency_ms": 1000 * (done - due),
                "late_ms": 1000 * (sent - due),
                "ok": check(op, code, body, spec),
            }
            if op == "predict":
                rec["body"] = body
            with lock:
                results.append(rec)

    threads = [threading.Thread(target=worker) for _ in range(spec["threads"])]
    for t in threads:
        t.start()
    t0 = time.monotonic() + 0.05
    for i, op in enumerate(ops):
        due = t0 + i / rate
        time.sleep(max(0.0, due - time.monotonic()))
        jobs.put((i, op, due))
    for _ in threads:
        jobs.put(None)
    for t in threads:
        t.join()
    for rec in results:
        print(json.dumps(rec))
    print(json.dumps({"done": len(results)}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
