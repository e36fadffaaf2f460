"""Open-loop food-record producer for the ``pipeline`` workload.

Runs as its own process. It appends seeded food JSON records to a
``filelog`` topic through ``sources.filelog.append_records``:

1. a ``{"ready": true}`` line once started; after a ``go`` line on
   stdin, a trickle at a fixed rate: record j is due at
   ``t0 + j / rate`` and is written at the first tick at or after its
   due time, however slowly the consumer drains; then a line with the
   trickle's start time and its rate;
2. on each ``backlog`` line that follows, a backlog burst of
   ``--backlog`` records, all at once, then a line with the records
   produced so far and how many of them are malformed.

Times are ``time.monotonic()``, which all processes on the host share.
About 1 % of records are malformed (a non-numeric value and a missing
column), the producer's bad-line shapes.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from bigdata_kafka_2_spark.schema import FOOD_NUMERIC_COLUMNS  # noqa: E402
from bigdata_kafka_2_spark.sources.filelog import append_records  # noqa: E402

MALFORMED_SHARE = 0.01
TICK_S = 0.02


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--topic", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--backlog", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    args = ap.parse_args()

    rng = np.random.default_rng(args.seed)
    bad = 0

    def make(seq: int) -> dict:
        nonlocal bad
        malformed = bool(rng.random() < MALFORMED_SHARE)
        bad += malformed
        return datagen.food_record(rng, seq, FOOD_NUMERIC_COLUMNS, malformed)

    print(json.dumps({"ready": True}), flush=True)
    if sys.stdin.readline().strip() != "go":
        return 1
    n_trickle = int(args.rate * args.seconds)
    t0 = time.monotonic()
    written = 0
    while written < n_trickle:
        now = time.monotonic()
        due = min(n_trickle, int((now - t0) * args.rate) + 1)
        if due > written:
            append_records(args.topic, [make(j) for j in range(written, due)])
            written = due
        time.sleep(max(0.0, min(TICK_S, t0 + written / args.rate - time.monotonic())))
    print(json.dumps({"trickle_t0": t0, "rate": args.rate}), flush=True)

    for line in iter(sys.stdin.readline, ""):
        if line.strip() != "backlog":
            return 1
        append_records(args.topic, [make(written + j) for j in range(args.backlog)])
        written += args.backlog
        print(json.dumps({"produced": written, "malformed": bad}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
